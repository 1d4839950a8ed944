"""Structured-Streaming incremental ingest: batches arriving over time
dedupe against the growing canonical index (S8 batch-over-batch parity,
reference lib/lieu/spark/tfidf.py:43-45)."""

import pytest

from lieu_spark import corpus
from lieu_spark.config import DedupeConfig
from lieu_spark.streaming.ingest import run_stream

CFG = DedupeConfig()


@pytest.mark.slow
def test_incremental_stream_dedupe(spark, tmp_path):
    in_dir = tmp_path / "incoming"
    work = tmp_path / "work"
    in_dir.mkdir()

    # batch 1: conversations 0..39 (contains its own planted dupes)
    b1 = corpus.generate_df(spark, 42, 40)
    b1.coalesce(1).write.mode("append").parquet(str(in_dir))
    run_stream(spark, str(in_dir), str(work), CFG, available_now=True)

    index1 = spark.read.parquet(f"{work}/index")
    n1 = index1.count()
    assert 0 < n1 <= 40  # exact in-batch copies may collapse later; index appended

    # batch 2: exact copies of convs 0..9 under new ids -> must match
    rows = [r for r in corpus.generate_rows(42, 10)]
    dup_rows = [
        (f"z{int(r.conv_id[1:]):09d}", r.turn_idx, r.role, r.text, r.tool, r.ts)
        for r in rows
    ]
    spark.createDataFrame(dup_rows, corpus.TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(in_dir))
    run_stream(spark, str(in_dir), str(work), CFG, available_now=True)

    pairs = spark.read.parquet(f"{work}/pairs")
    matched = {
        (r.id_a, r.id_b)
        for r in pairs.filter("status = 'exact_duplicate'").collect()
    }
    # batch 1 now self-dedupes (within-batch LSH + exact star), so the
    # index holds only canonicals: each z_i (byte-copy of conv i) must
    # land a dupe-class match — exact when conv i itself survived as a
    # canonical, likely when z_i could only meet conv i's near-dup
    # canonical (the reference's match-against-index semantics,
    # lib/lieu/spark/dedupe.py:24-48)
    dupe_hits = {
        r.id_b
        for r in pairs.filter(
            "status in ('exact_duplicate', 'likely_duplicate')"
        ).collect()
    }
    for i in range(10):
        assert f"z{i:09d}" in dupe_hits, (i, sorted(dupe_hits))
    assert matched, "no exact matches at all"

    # dupes must NOT have been folded into the index
    index2 = spark.read.parquet(f"{work}/index")
    zs = [r.conv_id for r in index2.collect() if r.conv_id.startswith("z")]
    assert zs == []

    # checkpoint resume: the second run_stream reused the first run's
    # checkpoint, so batch-1 files were NOT reprocessed — reprocessing
    # would append batch-1 canonicals to the index a second time
    ids = [r.conv_id for r in index2.collect()]
    assert len(ids) == len(set(ids)), "index has duplicate conv_ids (reprocessed)"
    assert index2.count() == n1  # batch 2 was all dupes; nothing new folded


@pytest.mark.parametrize("arrival", ["same_file", "later_file"])
def test_stream_simhash_within_batch_matches_pipeline(
    spark, tmp_path, shuffled_copy, arrival
):
    """A word-shuffled copy pairs only through the SimHash family. Arriving
    in the same file as its original (within-batch candidates) or in a
    later one (the stored band state carries the chunk family, so
    cross_candidates pairs it), the stream must yield the same verified
    row as run_pipeline."""
    from lieu_spark.pipeline import run_pipeline

    original, copy = shuffled_copy
    tdf = original.unionByName(copy)
    in_dir = str(tmp_path / "in")
    files = [tdf] if arrival == "same_file" else [original, copy]
    for f in files:
        f.coalesce(1).write.mode("append").parquet(in_dir)
    run_stream(
        spark, in_dir, str(tmp_path / "work"), CFG,
        available_now=True, files_per_trigger=1,
    )

    cols = ["id_a", "id_b", "jaccard", "is_exact", "status"]
    batch = run_pipeline(spark, tdf, CFG, with_spans=False).verified
    assert [r.sources for r in batch.collect()] == [["simhash"]]
    stream = spark.read.parquet(str(tmp_path / "work" / "pairs"))
    assert stream.select(*cols).collect() == batch.select(*cols).collect()


@pytest.mark.slow
def test_stream_batch_cluster_parity(spark, tmp_path):
    """The foreachBatch incremental path over the corpus chunked into 3
    batches yields byte-identical cluster assignments to the batch
    pipeline (VERDICT r1 #9). Within-batch self-pairs + vs-index match
    pairs accumulate an edge set whose connected components equal the
    batch pipeline's (dupes withheld from the index chain to their
    canonical via CC)."""
    from pyspark.sql import functions as F

    from lieu_spark.operators.cluster import (
        clusters_with_singletons,
        connected_components,
    )
    from lieu_spark.operators.verify import dupe_pairs
    from lieu_spark.pipeline import run_pipeline

    n_convs = 400
    tdf = corpus.generate_df(spark, 7, n_convs).persist()

    in_dir = tmp_path / "in3"
    work = tmp_path / "work3"
    in_dir.mkdir()
    # 3 deterministic chunks of complete conversations, one file each
    chunk = (F.abs(F.xxhash64("conv_id")) % 3).alias("chunk")
    for c in range(3):
        tdf.withColumn("chunk", chunk).filter(F.col("chunk") == c).drop(
            "chunk"
        ).coalesce(1).write.mode("append").parquet(str(in_dir))
    run_stream(spark, str(in_dir), str(work), CFG, available_now=True,
               files_per_trigger=1)

    stream_pairs = dupe_pairs(spark.read.parquet(f"{work}/pairs"))
    convs_all = run_pipeline(
        spark, tdf, CFG, with_spans=False
    )  # batch reference
    stream_clusters = {
        r.conv_id: r.cluster_id
        for r in clusters_with_singletons(
            convs_all.conversations, connected_components(stream_pairs)
        ).collect()
    }
    batch_clusters = {
        r.conv_id: r.cluster_id for r in convs_all.clusters.collect()
    }
    assert stream_clusters == batch_clusters
    tdf.unpersist()


def _mini_batch(spark, rows):
    from lieu_spark.corpus import TRANSCRIPT_SCHEMA

    return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)


def test_stream_cross_batch_empty_doc_exacts_and_replay_idempotence(
    spark, tmp_path
):
    """(1) A content-empty conversation arriving in a LATER batch than
    its byte-identical twin must still pair exact: rep-blocking excludes
    empty docs from banding, so the cross-batch text_sha equi-join is
    the load-bearing path (the stream twin of the batch pipeline's
    GLOBAL exact star). (2) Re-processing a batch with the same batch_id
    (the at-least-once checkpoint-replay case) must leave state
    byte-identical — per-batch overwrite subdirs, not appends."""
    import datetime as dt

    from pyspark.sql import functions as F

    from lieu_spark.streaming.ingest import IncrementalDeduper

    ts = dt.datetime(2026, 1, 1)
    b1 = _mini_batch(spark, [
        ("e1", 0, "user", "!!!", None, ts),
        ("a1", 0, "user", "the quick brown fox jumps over the lazy dog "
                          "again and again tonight", None, ts),
    ])
    b2 = _mini_batch(spark, [
        ("e2", 0, "user", "!!!", None, ts),          # empty-doc twin of e1
        ("a2", 0, "user", "the quick brown fox jumps over the lazy dog "
                          "again and again tonight", None, ts),  # twin of a1
    ])
    work = tmp_path / "w"
    ded = IncrementalDeduper(spark, str(work), CFG)
    ded.process_batch(b1, 0)
    ded.process_batch(b2, 1)

    pairs = spark.read.parquet(f"{work}/pairs")
    exact = {
        (r.id_a, r.id_b)
        for r in pairs.filter("status = 'exact_duplicate'").collect()
    }
    assert ("e1", "e2") in exact, sorted(exact)
    assert ("a1", "a2") in exact, sorted(exact)

    index_before = sorted(
        r.conv_id for r in spark.read.parquet(f"{work}/index").collect()
    )
    pairs_before = sorted(
        (r.id_a, r.id_b, r.status, r.batch_id) for r in pairs.collect()
    )
    # simulate an at-least-once replay of batch 1
    ded.process_batch(b2, 1)
    index_after = sorted(
        r.conv_id for r in spark.read.parquet(f"{work}/index").collect()
    )
    pairs_after = sorted(
        (r.id_a, r.id_b, r.status, r.batch_id)
        for r in spark.read.parquet(f"{work}/pairs").collect()
    )
    assert index_after == index_before
    assert pairs_after == pairs_before

    # checkpoint-loss detection: batch ids restarting at 0 while the
    # index already holds batch 1 means the stream checkpoint was lost
    # or re-pointed — proceeding would overwrite old state subdirs
    with pytest.raises(ValueError, match="checkpoint"):
        ded.process_batch(b1, 0)


def test_stream_match_plan_no_index_reband(spark, tmp_path):
    """The vs-index LSH match must read the STORED pre-derived band
    table — no Generate/explode over the index side (that re-band was
    the r2 verdict's one remaining O(index)-per-batch scale-killer) —
    with the incoming micro-batch side broadcast."""
    import datetime as dt

    from lieu_spark.operators import blocking
    from lieu_spark.operators.assemble import assemble_conversations
    from lieu_spark.operators.lsh import band_table_dual, match_pairs
    from lieu_spark.pipeline import build_features
    from lieu_spark.streaming.ingest import IncrementalDeduper

    ts = dt.datetime(2026, 1, 1)
    b1 = _mini_batch(spark, [
        (f"a{i}", 0, "user",
         f"alpha beta gamma delta epsilon zeta {i} eta theta iota kappa",
         None, ts)
        for i in range(6)
    ])
    work = tmp_path / "wp"
    ded = IncrementalDeduper(spark, str(work), CFG)
    ded.process_batch(b1, 0)

    b2 = _mini_batch(spark, [
        ("n1", 0, "user",
         "alpha beta gamma delta epsilon zeta 0 eta theta iota kappa",
         None, ts),
    ])
    feats = build_features(assemble_conversations(b2), CFG)
    feat_bands = band_table_dual(blocking.representatives(feats), CFG)
    stored = ded._state("bands", before_batch=1)
    cross = match_pairs(stored, feat_bands, CFG, broadcast_incoming=True)
    plan = cross._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    # exactly THREE Generates, ALL on the incoming micro-batch side (its
    # primary-family, alt-family and SimHash chunk-family banding); the
    # stored side is a plain parquet scan of pre-derived bands — zero
    # Generate over the index
    assert plan.count("Generate") == 3, plan
    # the stored side is a parquet FileScan of pre-derived bands
    assert "FileScan parquet" in plan, plan
    # the broadcast goes to the incoming (small) side
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    # and the plan finds the cross-batch match
    got = {(r.canonical_id, r.incoming_id) for r in cross.collect()}
    assert ("a0", "n1") in got, sorted(got)


def test_stream_config_fingerprint_guard(spark, tmp_path):
    """Resuming a stream work_dir with a different DedupeConfig must
    refuse (the streaming twin of checkpoint.StageStore invalidation) —
    k=7 features folded into a k=5 index corrupt every later match."""
    import datetime as dt

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    _mini_batch(spark, [
        ("c1", 0, "user", "some words here to make a doc", None,
         dt.datetime(2026, 1, 1)),
    ]).coalesce(1).write.mode("append").parquet(str(in_dir))

    work = tmp_path / "wg"
    run_stream(spark, str(in_dir), str(work), CFG, available_now=True)
    with pytest.raises(ValueError, match="fingerprint"):
        run_stream(
            spark, str(in_dir), str(work),
            DedupeConfig(shingle_k=7), available_now=True,
        )
    # same config resumes fine
    run_stream(spark, str(in_dir), str(work), CFG, available_now=True)


def test_stream_refuses_band_schema_2_work_dir(spark, tmp_path):
    """Band schema revision 3 stores bands as plain per-batch subdirs; a
    work_dir stamped under revision 2 holds band-hash bucket partition subdirs
    under each band batch and is refused by the fingerprint guard instead
    of being misread."""
    import hashlib
    import json
    from dataclasses import asdict

    d = asdict(CFG)
    d["band_schema"] = 2
    old_fp = hashlib.sha256(
        json.dumps(d, sort_keys=True).encode()
    ).hexdigest()[:16]
    work = tmp_path / "ws2"
    spark.createDataFrame(
        [(json.dumps({"fingerprint": old_fp}),)], "value string"
    ).coalesce(1).write.mode("overwrite").text(f"{work}/_config_marker")
    with pytest.raises(ValueError, match="fingerprint"):
        run_stream(spark, str(tmp_path / "in"), str(work), CFG)


def test_stream_verify_index_scan_bounded(spark, tmp_path):
    """The verify-side index fetch pushes the candidate-id list into the
    parquet scan (In(conv_id, ...) in PushedFilters) so the wide feature
    columns row-group-prune — the scan is bounded by the MATCHED ids,
    not the index size."""
    import datetime as dt

    from pyspark.sql import functions as F

    from lieu_spark.streaming.ingest import (
        VERIFY_ID_CAP,
        IncrementalDeduper,
        _pruned,
    )

    ts = dt.datetime(2026, 1, 1)
    b1 = _mini_batch(spark, [
        (f"a{i}", 0, "user",
         f"alpha beta gamma delta epsilon zeta {i} eta theta iota kappa",
         None, ts)
        for i in range(5)
    ])
    work = tmp_path / "wb"
    ded = IncrementalDeduper(spark, str(work), CFG)
    ded.process_batch(b1, 0)
    index = ded._state("index", before_batch=1)
    cand = spark.createDataFrame(
        [("a0", "n1"), ("a3", "n2")], "id_a string, id_b string"
    )
    bounded = _pruned(index, "conv_id", cand.select("id_a"), VERIFY_ID_CAP)
    plan = bounded._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert "In(conv_id" in plan, plan
    got = sorted(r.conv_id for r in bounded.collect())
    assert got == ["a0", "a3"], got


def test_stream_cross_batch_boundary_straddling_pair(spark, tmp_path):
    """A hysteresis-band near-dup pair split ACROSS batches: the word-
    primary doc arrives first and folds into the index; its char-primary
    near-dup (ratio just past avg_len) arrives a batch later. The match
    must come through the STORED family-tagged band table — the
    streaming twin of the batch hysteresis test."""
    import datetime as dt

    from lieu_spark.queries import CJK37
    from lieu_spark.streaming.ingest import IncrementalDeduper

    ts = dt.datetime(2026, 1, 1)
    cjk_letters = CJK37.replace(" ", "")
    clause = "".join(cjk_letters[(7 + i) % len(cjk_letters)] for i in range(107))
    tail = [f"s{i:03d}x" for i in range(20)]
    base = clause + " " + " ".join(tail)        # ratio 9.86: word-primary, in band
    dup = clause + " " + " ".join(tail[:-1])    # ratio 10.10: char-primary, in band

    work = tmp_path / "wstrad"
    ded = IncrementalDeduper(spark, str(work), CFG)
    ded.process_batch(_mini_batch(spark, [("orig", 0, "user", base, None, ts)]), 0)
    ded.process_batch(_mini_batch(spark, [("copy", 0, "user", dup, None, ts)]), 1)

    pairs = spark.read.parquet(f"{work}/pairs")
    dupes = {
        (r.id_a, r.id_b)
        for r in pairs.filter(
            "status in ('exact_duplicate', 'likely_duplicate')"
        ).collect()
    }
    assert ("orig", "copy") in dupes, sorted(
        (r.id_a, r.id_b, r.status, round(r.jaccard, 3)) for r in pairs.collect()
    )


def test_stream_state_compaction(spark, tmp_path):
    """compact_state merges all-but-newest batch subdirs into one,
    row-identically, without disturbing the checkpoint-loss guard or
    subsequent matching; a simulated mid-swap crash (merged subdir
    deleted, tmp + manifest present) auto-heals on the next state read."""
    import datetime as dt
    import json

    from lieu_spark.streaming.ingest import (
        COMPACT_TMP,
        IncrementalDeduper,
        _batch_subdir_ids,
        compact_state,
    )

    ts = dt.datetime(2026, 1, 1)

    def batch(i):
        return _mini_batch(spark, [
            (f"c{i}_{j}", 0, "user",
             f"unique words for batch {i} row {j} " + " ".join(
                 f"tok{i}{j}{k}" for k in range(10)),
             None, ts)
            for j in range(3)
        ])

    work = tmp_path / "wc"
    ded = IncrementalDeduper(spark, str(work), CFG)
    for i in range(4):
        ded.process_batch(batch(i), i)

    index_before = sorted(
        r.conv_id for r in spark.read.parquet(f"{work}/index").collect()
    )
    bands_before = sorted(
        (r.id, r.band, r.band_hash)
        for r in spark.read.parquet(f"{work}/bands").collect()
    )

    summary = compact_state(spark, str(work))
    assert summary["index"]["merged"] == 3 and summary["index"]["target"] == 2
    assert sorted(_batch_subdir_ids(spark, f"{work}/index")) == [2, 3]
    assert sorted(_batch_subdir_ids(spark, f"{work}/bands")) == [2, 3]

    # row-identical state after the merge
    assert sorted(
        r.conv_id for r in spark.read.parquet(f"{work}/index").collect()
    ) == index_before
    assert sorted(
        (r.id, r.band, r.band_hash)
        for r in spark.read.parquet(f"{work}/bands").collect()
    ) == bands_before

    # the stream continues: an exact copy of a COMPACTED batch's conv
    # must still match through the merged state
    dup = _mini_batch(spark, [(
        "zdup", 0, "user",
        "unique words for batch 0 row 1 " + " ".join(
            f"tok01{k}" for k in range(10)),
        None, ts,
    )])
    ded.process_batch(dup, 4)
    pairs = spark.read.parquet(f"{work}/pairs")
    hits = {
        (r.id_a, r.id_b)
        for r in pairs.filter("status = 'exact_duplicate'").collect()
    }
    assert ("c0_1", "zdup") in hits, sorted(hits)
    # checkpoint-loss guard still fires after compaction
    with pytest.raises(ValueError, match="checkpoint"):
        ded.process_batch(batch(0), 0)

    # crash recovery: rebuild a pending swap by hand — tmp with manifest,
    # one merged subdir already deleted — and let the next read heal it
    idx_dir = f"{work}/index"
    full = spark.read.parquet(idx_dir)
    merged_rows = sorted(r.conv_id for r in full.collect())
    fs = spark._jvm.org.apache.hadoop.fs.Path(idx_dir).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    P = spark._jvm.org.apache.hadoop.fs.Path
    tmp = f"{idx_dir}/{COMPACT_TMP}"
    full.filter("batch_id in (2, 3)").drop("batch_id").write.mode(
        "overwrite"
    ).parquet(tmp)
    out = fs.create(P(f"{tmp}/_MANIFEST.txt"), True)
    out.write(bytearray(json.dumps({"merged": [2, 3], "target": 3}).encode()))
    out.close()
    fs.delete(P(f"{idx_dir}/batch_id=2"), True)  # simulated mid-swap crash
    healed = ded._state("index", before_batch=5)
    assert sorted(r.conv_id for r in healed.collect()) == merged_rows
    assert sorted(_batch_subdir_ids(spark, idx_dir)) == [3, 4]


def test_stream_sha_state_pruned_and_correct(spark, tmp_path):
    """The cross-batch exact match reads the dedicated sha fold with the
    batch's shas pushed into the scan (In(text_sha, ...)); the fold is
    row-identical to the index's (conv_id, text_sha) projection and
    compaction covers it."""
    import datetime as dt

    from lieu_spark.pipeline import build_features
    from lieu_spark.operators.assemble import assemble_conversations
    from lieu_spark.streaming.ingest import (
        VERIFY_ID_CAP,
        IncrementalDeduper,
        _batch_subdir_ids,
        _pruned,
        compact_state,
    )

    ts = dt.datetime(2026, 1, 1)
    b1 = _mini_batch(spark, [
        (f"s{i}", 0, "user", f"first batch doc {i} " + " ".join(
            f"w{i}{k}" for k in range(8)), None, ts)
        for i in range(4)
    ])
    work = tmp_path / "wsha"
    ded = IncrementalDeduper(spark, str(work), CFG)
    ded.process_batch(b1, 0)

    # fold row-identical to the index projection
    idx = {
        (r.conv_id, r.text_sha)
        for r in spark.read.parquet(f"{work}/index").select(
            "conv_id", "text_sha"
        ).collect()
    }
    shas = {
        (r.conv_id, r.text_sha)
        for r in spark.read.parquet(f"{work}/shas").select(
            "conv_id", "text_sha"
        ).collect()
    }
    assert shas == idx

    # pruned scan: batch shas land in PushedFilters as In(text_sha ...)
    b2 = _mini_batch(spark, [
        ("z0", 0, "user", "first batch doc 0 " + " ".join(
            f"w0{k}" for k in range(8)), None, ts),
    ])
    feats = build_features(assemble_conversations(b2), CFG)
    stored = ded._state("shas", before_batch=1)
    pruned = _pruned(stored, "text_sha", feats.select("text_sha"), VERIFY_ID_CAP)
    plan = pruned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    # a 1-element isin folds to EqualTo — either way it reaches
    # PushedFilters on the sha scan
    assert "In(text_sha" in plan or "EqualTo(text_sha" in plan, plan
    # and the pruned state still carries exactly the matching row
    got = {r.conv_id for r in pruned.collect()}
    assert got == {"s0"}, got

    # second batch matches through it end-to-end
    ded.process_batch(b2, 1)
    pairs = spark.read.parquet(f"{work}/pairs")
    hits = {
        (r.id_a, r.id_b)
        for r in pairs.filter("status = 'exact_duplicate'").collect()
    }
    assert ("s0", "z0") in hits, sorted(hits)

    # compaction covers the sha state
    ded.process_batch(_mini_batch(spark, [
        ("y0", 0, "user", "a third batch document " + " ".join(
            f"y{k}" for k in range(8)), None, ts),
    ]), 2)
    summary = compact_state(spark, str(work))
    assert summary["shas"]["merged"] == 2
    assert sorted(_batch_subdir_ids(spark, f"{work}/shas")) == [1, 2]
    shas_after = {
        (r.conv_id, r.text_sha)
        for r in spark.read.parquet(f"{work}/shas").select(
            "conv_id", "text_sha"
        ).collect()
    }
    idx_after = {
        (r.conv_id, r.text_sha)
        for r in spark.read.parquet(f"{work}/index").select(
            "conv_id", "text_sha"
        ).collect()
    }
    assert shas_after == idx_after


def test_compaction_backfills_band_holes_and_legacy_dirs(spark, tmp_path):
    """(a) A work_dir holding only ``index/`` (what a state dir keeps
    once its band/sha dirs are lost or were kept elsewhere, as the old
    ``{index_dir}_bands``/``_shas`` layout did) gets ``bands/`` and
    ``shas/`` backfilled row-identically and still matches the next
    batch. compact_state (b) refuses to merge around a band-subdir hole
    without the stream's config, and (c) given the config, backfills
    the hole row-identically BEFORE merging — merging around it would
    bake the loss into state permanently (the per-kind batch ids line
    up again afterwards, so the ordinary backfill could never detect
    it)."""
    import datetime as dt
    import os
    import shutil

    from lieu_spark.streaming.ingest import (
        IncrementalDeduper,
        _batch_subdir_ids,
        compact_state,
    )

    ts = dt.datetime(2026, 1, 1)

    def batch(i):
        return _mini_batch(spark, [
            (f"h{i}_{j}", 0, "user",
             f"hole test batch {i} row {j} " + " ".join(
                 f"hk{i}{j}{k}" for k in range(10)),
             None, ts)
            for j in range(2)
        ])

    work = tmp_path / "wh"
    ded = IncrementalDeduper(spark, str(work), CFG)
    for i in range(4):
        ded.process_batch(batch(i), i)

    def assert_plain_band_layout(d):
        # bands/ holds batch subdirs only (no layout marker file), and
        # each holds its parquet files directly, like index/ and shas/:
        # no partition subdirs
        names = os.listdir(f"{d}/bands")
        assert names and all(n.startswith("batch_id=") for n in names), names
        for sub in names:
            entries = os.listdir(f"{d}/bands/{sub}")
            assert any(e.endswith(".parquet") for e in entries), (sub, entries)
            assert not any(
                os.path.isdir(f"{d}/bands/{sub}/{e}") for e in entries
            ), (sub, entries)

    def band_rows(d):
        return sorted(
            (r.id, r.band, r.band_hash, r.batch_id)
            for r in spark.read.parquet(f"{d}/bands").collect()
        )

    def sha_rows(d):
        return sorted(
            (r.conv_id, r.text_sha, r.batch_id)
            for r in spark.read.parquet(f"{d}/shas").collect()
        )

    assert_plain_band_layout(work)
    bands_before = band_rows(work)
    shas_before = sha_rows(work)

    # (a) index-only work_dir: the next batch's state loads backfill
    # both derived kinds, and a copy of a batch-1 doc still matches
    only = tmp_path / "wi"
    shutil.copytree(f"{work}/index", f"{only}/index")
    copy = _mini_batch(spark, [(
        "zcopy", 0, "user",
        "hole test batch 1 row 0 " + " ".join(f"hk10{k}" for k in range(10)),
        None, ts,
    )])
    IncrementalDeduper(spark, str(only), CFG).process_batch(copy, 4)
    assert_plain_band_layout(only)
    assert [r for r in band_rows(only) if r[-1] < 4] == bands_before
    assert [r for r in sha_rows(only) if r[-1] < 4] == shas_before
    hits = {
        (r.id_a, r.id_b)
        for r in spark.read.parquet(f"{only}/pairs")
        .filter("status = 'exact_duplicate'").collect()
    }
    assert ("h1_0", "zcopy") in hits, sorted(hits)

    bands_before = sorted(r[:3] for r in bands_before)
    shas_before = sorted(r[:2] for r in shas_before)
    # punch a hole: batch 1's band fold is lost (crash between the
    # index write and the band fold, never replayed)
    shutil.rmtree(f"{work}/bands/batch_id=1")

    with pytest.raises(ValueError, match="missing subdirs"):
        compact_state(spark, str(work))

    summary = compact_state(spark, str(work), cfg=CFG)
    assert summary["shas"]["merged"] == 3
    assert sorted(_batch_subdir_ids(spark, f"{work}/shas")) == [2, 3]
    assert summary["bands"]["merged"] == 3
    assert_plain_band_layout(work)
    # the hole was backfilled before the merge: row-identical band state
    assert sorted(
        (r.id, r.band, r.band_hash)
        for r in spark.read.parquet(f"{work}/bands").collect()
    ) == bands_before
    assert sorted(
        (r.conv_id, r.text_sha)
        for r in spark.read.parquet(f"{work}/shas").collect()
    ) == shas_before


def test_compaction_refuses_unreadable_config_marker(spark, tmp_path):
    """A band backfill in compact_state checks the work_dir's config
    marker exactly as run_stream does: an unreadable marker (truncated
    JSON, or JSON without the fingerprint) is refused with the same
    ValueError, never a raw decode/key error."""
    import datetime as dt
    import shutil

    from lieu_spark.streaming.ingest import IncrementalDeduper, compact_state

    work = tmp_path / "wmk"
    IncrementalDeduper(spark, str(work), CFG).process_batch(_mini_batch(spark, [(
        "k0", 0, "user", "marker test " + " ".join(f"mt{k}" for k in range(10)),
        None, dt.datetime(2026, 1, 1),
    )]), 0)
    shutil.rmtree(f"{work}/bands/batch_id=0")
    for corrupt in ('{"fingerprint": ', '{"other": 1}'):
        spark.createDataFrame([(corrupt,)], "value string").coalesce(1).write.mode(
            "overwrite"
        ).text(f"{work}/_config_marker")
        with pytest.raises(ValueError, match="unreadable"):
            run_stream(spark, str(tmp_path / "in"), str(work), CFG)
        with pytest.raises(ValueError, match="unreadable"):
            compact_state(spark, str(work), cfg=CFG)


def test_stream_correct_with_broadcast_hints_off(spark, tmp_path, monkeypatch):
    """Catch-up regime: a batch past STREAM_BROADCAST_CAP switches the
    batch-side broadcast hints off — the vs-index joins shuffle — and
    must write exactly the pairs of the default broadcast shape (the
    twin of test_refresh's REFRESH_BROADCAST_CAP test)."""
    import shutil

    import lieu_spark.streaming.ingest as ingest

    rows = corpus.generate_rows(7, 40)
    b1 = [r for r in rows if int(r.conv_id[1:]) % 2 == 0]
    # batch 2: the odd convs plus byte-copies of five batch-1 convs
    b2 = [r for r in rows if int(r.conv_id[1:]) % 2 == 1] + [
        (f"z{r.conv_id[1:]}", r.turn_idx, r.role, r.text, r.tool, r.ts)
        for r in b1
        if int(r.conv_id[1:]) < 10
    ]

    ingest.IncrementalDeduper(spark, str(tmp_path / "bc"), CFG).process_batch(
        _mini_batch(spark, b1), 0
    )
    shutil.copytree(tmp_path / "bc", tmp_path / "sh")

    def second_batch(work):
        ingest.IncrementalDeduper(spark, str(work), CFG).process_batch(
            _mini_batch(spark, b2), 1
        )
        return sorted(
            (r.id_a, r.id_b, r.status, round(r.jaccard, 9))
            for r in spark.read.parquet(f"{work}/pairs/batch_id=1").collect()
        )

    want = second_batch(tmp_path / "bc")
    monkeypatch.setattr(ingest, "STREAM_BROADCAST_CAP", 0)
    got = second_batch(tmp_path / "sh")
    assert got == want
    # the byte-copies matched their batch-1 originals across batches
    assert any(a.startswith("c") and b.startswith("z") for a, b, *_ in want)


def test_compact_state_rejects_keep_last_below_one(spark, tmp_path):
    # keep_last=0 would fold the one replayable batch into the merged
    # union it then overwrites on checkpoint replay — total index loss
    from lieu_spark.streaming.ingest import compact_state

    with pytest.raises(ValueError, match="keep_last"):
        compact_state(spark, str(tmp_path / "work"), keep_last=0)


def test_stream_assembly_caps_turns_like_the_pipeline(spark, tmp_path):
    """ADVICE r4 (medium): max_turns_per_conv flows into the
    foreachBatch assembly — a capped conversation arriving on the
    stream must hash to the SAME text_sha as the pipeline-built stored
    state it is matched against, so the exact-dup match fires (and the
    cap bounds the stream-side collect_list buffer)."""
    import datetime as dt

    from lieu_spark.streaming.ingest import IncrementalDeduper

    ts = dt.datetime(2026, 1, 1)
    cfg = DedupeConfig(max_turns_per_conv=10)
    shared = [f"shared turn text number {i} zz" for i in range(10)]

    def rows(cid, tail):
        return [
            (cid, i, "user" if i % 2 == 0 else "assistant", shared[i], None, ts)
            for i in range(10)
        ] + [
            (cid, i, "user", f"{tail} {i}", None, ts) for i in range(10, 40)
        ]

    work = tmp_path / "wcap"
    ded = IncrementalDeduper(spark, str(work), cfg)
    ded.process_batch(_mini_batch(spark, rows("c1", "canonical tail")), 0)
    ded.process_batch(_mini_batch(spark, rows("n1", "divergent tail")), 1)

    pairs = spark.read.parquet(f"{work}/pairs")
    got = {
        (r.id_a, r.id_b): r.status
        for r in pairs.filter("batch_id = 1").collect()
    }
    # agree on the first 10 (capped) turns, diverge on the next 30:
    # identical docs under the cap -> stream-side sha equals stored sha
    assert got.get(("c1", "n1")) == "exact_duplicate", got


def test_stream_standing_hot_band_fanout_bounded(spark, tmp_path):
    """VERDICT r4 #1: a standing boilerplate band group in stored state
    (members >> hot_band_cap) must NOT fan out per-incoming-row to the
    whole group — the capped match bounds candidates to ~cap per band,
    while matches are still found (full within-block pairing below the
    cap, lib/lieu/spark/dedupe.py:24-48 parity)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from lieu_spark.streaming.ingest import IncrementalDeduper

    ts = dt.datetime(2026, 1, 1)
    cfg = DedupeConfig(hot_band_cap=16)
    body = "alpha beta gamma delta epsilon zeta eta theta iota kappa " \
           "lamda mu nu xi omicron pi rho sigma tau upsilon"
    work = tmp_path / "whot"
    ded = IncrementalDeduper(spark, str(work), cfg)
    ded.process_batch(
        _mini_batch(spark, [("a0", 0, "user", body, None, ts)]), 0
    )

    # plant a standing boilerplate group: 300 distinct conv_ids carrying
    # a0's exact feature row (same sig -> same band groups) written as a
    # synthetic state batch through the deduper's own folds
    base = spark.read.parquet(f"{work}/index/batch_id=0").filter(
        "conv_id = 'a0'"
    )
    planted = (
        spark.range(300)
        .crossJoin(base.drop("conv_id"))
        .withColumn(
            "conv_id",
            F.concat(F.lit("x"), F.lpad(F.col("id").cast("string"), 4, "0")),
        )
        .drop("id")
        .select(*base.columns)
    )
    planted.write.parquet(f"{work}/index/batch_id=1")
    ded._fold("bands", planted, 1)
    ded._fold("shas", planted, 1)

    # incoming: a near-variant (distinct sha, shares band groups)
    ded.process_batch(
        _mini_batch(
            spark,
            [("n1", 0, "user", body.replace("upsilon", "omega"), None, ts)],
        ),
        2,
    )
    got = [
        (r.id_a, r.id_b)
        for r in spark.read.parquet(f"{work}/pairs")
        .filter("batch_id = 2")
        .collect()
    ]
    n_lsh = sum(1 for a, _ in got if a.startswith(("x", "a")))
    # uncapped this is ~301 (every standing member pairs with n1);
    # capped it is ~|group|/nsplit ~= hot_band_cap per band group
    assert 0 < n_lsh <= 4 * cfg.hot_band_cap, (n_lsh, sorted(got)[:10])

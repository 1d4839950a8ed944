"""Library API parity: match() and unique()
(reference: lib/lieu/spark/dedupe.py:24-48,109-115)."""

from lieu_spark import corpus
from lieu_spark.api import match, unique
from lieu_spark.config import DedupeConfig

CFG = DedupeConfig()


def _tdf(spark, rows):
    return spark.createDataFrame(
        [(r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts) for r in rows],
        corpus.TRANSCRIPT_SCHEMA,
    )


def test_match_finds_cross_set_dupes(spark):
    rows = corpus.generate_rows(42, 30)
    # canonical = conversations 0..19; incoming = copies of 0..4 under new ids
    canon_rows = [r for r in rows if int(r.conv_id[1:]) < 20]
    incoming = []
    for r in canon_rows:
        i = int(r.conv_id[1:])
        if i < 5:
            incoming.append(
                corpus.TurnRow(f"n{i:09d}", r.turn_idx, r.role, r.text, r.tool, r.ts)
            )
    got = match(spark, _tdf(spark, canon_rows), _tdf(spark, incoming), CFG)
    pairs = {(r.canonical_id, r.incoming_id): r.status for r in got.collect()}
    for i in range(5):
        key = (corpus.conv_id_str(i), f"n{i:09d}")
        assert pairs.get(key) == "exact_duplicate", pairs


def test_unique_drops_dupes_keeps_canonical(spark):
    rows = corpus.generate_rows(42, 40)  # indices 7,17,27,37 exact copies
    uniq = unique(spark, _tdf(spark, rows), CFG)
    ids = {r.conv_id for r in uniq.select("conv_id").collect()}
    # exact copies (i%10==7) must be dropped; their sources kept
    for i in range(40):
        if i % 10 == 7:
            assert corpus.conv_id_str(i) not in ids
            assert corpus.conv_id_str(i - 7) in ids


def test_dedupe_responses_shape_and_ordering(spark):
    """DedupeResponse parity: every conv gets a response row; same_as
    holds exact/likely neighbors ordered by similarity desc; canonical
    flag marks cluster representatives (lieu api.py:48-144 semantics)."""
    from lieu_spark.api import dedupe
    from lieu_spark.operators.response import dedupe_responses

    rows = corpus.generate_rows(42, 60)
    res = dedupe(spark, _tdf(spark, rows), CFG, with_spans=False)
    resp = dedupe_responses(res.conversations, res.verified, res.clusters)
    got = {r.conv_id: r for r in resp.collect()}
    assert len(got) == 60

    for i in range(60):
        cid = corpus.conv_id_str(i)
        r = got[cid]
        # neighbor lists ordered by similarity desc
        sims = [e.similarity for e in r.same_as]
        assert sims == sorted(sims, reverse=True), cid
        psims = [e.similarity for e in r.possibly_same_as]
        assert psims == sorted(psims, reverse=True), cid
        # is_dupe iff it has a dupe-tier neighbor AND is not the cluster
        # canonical (reference: dedupe_geojson.py keys dupes on uid1 only,
        # so "keep non-dupes" keeps exactly one record per cluster)
        assert r.is_dupe == (len(r.same_as) > 0 and not r.is_canonical)
        # canonical <=> cluster representative
        assert r.is_canonical == (r.cluster_id == cid)
        if i % 10 == 7:  # planted exact copy of i-7
            others = {e.other_id for e in r.same_as}
            assert corpus.conv_id_str(i - 7) in others, cid
            top = r.same_as[0]
            assert top.classification == "exact_duplicate"
            assert abs(top.similarity - 1.0) < 1e-12

    # symmetric: a's same_as contains b iff b's contains a
    for cid, r in got.items():
        for e in r.same_as:
            assert any(x.other_id == cid for x in got[e.other_id].same_as), (
                cid, e.other_id,
            )


def test_match_empty_docs_and_boilerplate_groups(spark):
    """The run_pipeline blocking policy applies to match() too:
    content-empty docs match via the text_sha equi-join (never via the
    sentinel-signature band collision), and a canonical identical-text
    group is banded once but every member still appears in the output
    with the rep's exact verdict."""
    import datetime as dt

    ts = dt.datetime(2026, 1, 1)
    body = "shared boilerplate text " + " ".join(f"bp{k}" for k in range(12))

    class R:
        def __init__(self, cid, text):
            self.conv_id, self.turn_idx, self.role = cid, 0, "user"
            self.text, self.tool, self.ts = text, None, ts

    canon = [R("c1", body), R("c2", body), R("c3", body), R("c9", "   ")]
    inc = [R("n1", body), R("n2", "   ")]
    got = match(spark, _tdf(spark, canon), _tdf(spark, inc), CFG)
    pairs = {(r.canonical_id, r.incoming_id): (r.status, r.is_exact) for r in got.collect()}
    # every member of the canonical boilerplate group matches n1 exactly
    for cid in ("c1", "c2", "c3"):
        assert pairs.get((cid, "n1")) == ("exact_duplicate", True), pairs
    # whitespace-only (content-empty) docs pair via the sha path
    assert pairs.get(("c9", "n2")) == ("exact_duplicate", True), pairs
    # and no spurious empty-vs-content pairs exist
    assert ("c9", "n1") not in pairs


def test_match_caps_turns_like_the_pipeline(spark):
    """max_turns_per_conv flows into BOTH of match()'s assembly calls:
    a conversation longer than the cap must hash identically to the
    pipeline-capped state it is matched against, so two convs that
    agree on the first `cap` turns but diverge past it are the SAME
    doc under the cap — and distinct docs without it."""
    import datetime as dt

    ts = dt.datetime(2026, 1, 1)

    class R:
        def __init__(self, cid, idx, text):
            self.conv_id, self.turn_idx = cid, idx
            self.role = "user" if idx % 2 == 0 else "assistant"
            self.text, self.tool, self.ts = text, None, ts

    shared = [f"shared turn text number {i} zz" for i in range(10)]
    canon = [R("c1", i, shared[i]) for i in range(10)] + [
        R("c1", i, f"canonical tail {i}") for i in range(10, 40)
    ]
    inc = [R("n1", i, shared[i]) for i in range(10)] + [
        R("n1", i, f"divergent tail {i}") for i in range(10, 40)
    ]

    capped = match(
        spark, _tdf(spark, canon), _tdf(spark, inc),
        DedupeConfig(max_turns_per_conv=10),
    )
    pairs = {(r.canonical_id, r.incoming_id): r.is_exact for r in capped.collect()}
    assert pairs.get(("c1", "n1")) is True, pairs

    # negative control: uncapped, the divergent tails dominate — no match
    uncapped = match(spark, _tdf(spark, canon), _tdf(spark, inc), CFG)
    assert not {
        (r.canonical_id, r.incoming_id) for r in uncapped.collect()
    }, "75%-divergent convs must not match without the cap"


def test_response_nested_canonical_consistent_for_unclustered(spark):
    # a REVIEW-only pair: neither doc is clustered, so the record-level
    # is_canonical defaults True — the nested neighbor flag must agree
    from lieu_spark.operators.response import dedupe_responses

    convs = spark.createDataFrame([("a",), ("b",)], "conv_id string")
    verified = spark.createDataFrame(
        [("a", "b", "needs_review", 0.75, "stream")],
        "id_a string, id_b string, status string, jaccard double, method string",
    )
    clusters = spark.createDataFrame(
        [], "conv_id string, cluster_id string"
    )
    rows = {r.conv_id: r for r in
            dedupe_responses(convs, verified, clusters).collect()}
    assert rows["a"].is_canonical and rows["b"].is_canonical
    assert rows["a"].possibly_same_as[0].is_canonical is True
    assert rows["b"].possibly_same_as[0].is_canonical is True


def test_match_pairs_simhash_family_like_the_pipeline(spark, shuffled_copy):
    """A word-shuffled copy pairs only through the SimHash family: match()
    (canonical = original, incoming = copy) must return run_pipeline's
    verified row for the pair — the chunk family rides both band
    tables, so cross_candidates pairs it."""
    from lieu_spark.pipeline import run_pipeline

    original, copy = shuffled_copy
    got = match(spark, original, copy, CFG).select(
        "canonical_id", "incoming_id", "jaccard", "is_exact", "status"
    )
    want = run_pipeline(
        spark, original.unionByName(copy), CFG, with_spans=False
    ).verified.select("id_a", "id_b", "jaccard", "is_exact", "status")
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]

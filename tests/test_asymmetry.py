"""P8 asymmetric-evidence guard + F10 verdict revision
(operators/asymmetry.py; reference lib/lieu/dedupe.py:103-108,166-169
and 356-372)."""

import datetime as dt

from pyspark.sql import functions as F

from lieu_spark.api import match
from lieu_spark.config import DedupeConfig
from lieu_spark.corpus import TRANSCRIPT_SCHEMA
from lieu_spark.operators.asymmetry import (
    apply_asymmetry_guard,
    field_signatures,
    revise_verdicts,
)
from lieu_spark.pipeline import run_pipeline

TS = dt.datetime(2026, 1, 1)


def _tdf(spark, rows):
    return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)


def _turn(cid, idx, text, tool=None):
    return (cid, idx, "user" if idx % 2 == 0 else "assistant", text, tool, TS)


def test_field_signatures_trim_distinct_sorted_null(spark):
    rows = [
        _turn("a", 0, "x", " web "),
        _turn("a", 1, "y", "calc"),
        _turn("a", 2, "z", "web"),        # duplicate after trim
        _turn("b", 0, "x", "   "),        # whitespace-only = absent
        _turn("b", 1, "y", None),
        _turn("c", 0, "x"),
    ]
    got = {r.conv_id: r.field_sig for r in field_signatures(_tdf(spark, rows)).collect()}
    assert got == {"a": "3:web|4:calc", "b": None, "c": None}


def test_field_signatures_injective_no_separator_collision(spark):
    # {'a|b'} vs {'a','b'}: a bare '|' join would make these EQUAL and
    # silently upgrade verdicts on evidence that does not match
    rows = [
        _turn("p", 0, "x", "a|b"),
        _turn("q", 0, "x", "a"),
        _turn("q", 1, "y", "b"),
    ]
    got = {r.conv_id: r.field_sig for r in field_signatures(_tdf(spark, rows)).collect()}
    assert got["p"] != got["q"], got


def test_guard_and_revision_rules_on_pair_frame(spark):
    sigs = spark.createDataFrame(
        [("p", "web"), ("q", "web"), ("r", "calc"), ("s", None)],
        "conv_id string, field_sig string",
    )
    pairs = spark.createDataFrame(
        [
            ("p", "q", "needs_review"),     # both present, same -> upgrade
            ("p", "r", "likely_duplicate"), # both present, diff -> downgrade
            ("p", "s", "likely_duplicate"), # one absent -> guard refuses
            ("s", "s", "needs_review"),     # both absent -> untouched
        ],
        "id_a string, id_b string, status string",
    )
    guarded = {
        (r.id_a, r.id_b): r.status
        for r in apply_asymmetry_guard(pairs, sigs).collect()
    }
    assert guarded[("p", "s")] == "null_dupe"
    assert guarded[("p", "q")] == "needs_review"  # guard never upgrades

    revised = {
        (r.id_a, r.id_b): (r.status, r.same_field)
        for r in revise_verdicts(pairs, sigs, keep_same_field=True).collect()
    }
    assert revised[("p", "q")] == ("likely_duplicate", True)
    assert revised[("p", "r")] == ("needs_review", False)
    assert revised[("p", "s")] == ("likely_duplicate", False)  # absent: no-op
    assert revised[("s", "s")] == ("needs_review", False)


def test_pipeline_asymmetric_pairs_refused_and_not_clustered(spark):
    """VERDICT r4 #3 done-criterion: byte-identical conversations where
    exactly one side carries tool-call evidence must NOT cluster under
    cfg.asymmetry_field — and must cluster without it (control)."""
    body = " ".join(f"w{i:02d}" for i in range(40))
    rows = [
        _turn("a1", 0, body),
        _turn("b1", 0, body, "web_search"),
        _turn("c1", 0, body, "web_search"),  # symmetric with b1
    ]
    cfg = DedupeConfig(asymmetry_field="tool")
    res = run_pipeline(spark, _tdf(spark, rows), cfg, with_spans=False)
    st = {(r.id_a, r.id_b): r.status for r in res.verified.collect()}
    cl = {r.conv_id: r.cluster_id for r in res.clusters.collect()}
    # the refusal rides the subgroup hub edge; (a1, c1) is implied by
    # star economy and never materialized (exact_star_pairs_grouped)
    assert st[("a1", "b1")] == "null_dupe"
    assert st.get(("a1", "c1"), "null_dupe") == "null_dupe"
    assert st[("b1", "c1")] == "exact_duplicate"
    assert cl["a1"] != cl["b1"]          # refused pair never clusters
    assert cl["b1"] == cl["c1"]          # symmetric evidence still does

    control = run_pipeline(spark, _tdf(spark, rows), DedupeConfig(), with_spans=False)
    ccl = {r.conv_id: r.cluster_id for r in control.clusters.collect()}
    assert ccl["a1"] == ccl["b1"] == ccl["c1"]


def test_pipeline_revision_upgrade_and_downgrade(spark):
    """F10 done-criterion, both directions through run_pipeline:
    a review-band pair with matching tool signatures upgrades to
    likely (and therefore clusters); a likely-band pair with
    conflicting signatures downgrades (and stops clustering)."""
    toks = [f"w{i:02d}" for i in range(40)]
    base = " ".join(toks)
    near_review = " ".join(toks[:36] + ["x0", "x1", "x2", "x3"])  # j = 0.8
    # downgrade pair needs j >= 0.9: one changed token out of 110
    # (shared 105 of 106 windows -> j = 105/107 ~ 0.98)
    dtoks = [f"d{i:03d}" for i in range(110)]
    rows = [
        # upgrade pair: review-band similarity, same tool sig
        _turn("u1", 0, base, "web"),
        _turn("u2", 0, near_review, "web"),
        # downgrade pair: likely-band similarity, conflicting sigs
        _turn("d1", 0, " ".join(dtoks), "web"),
        _turn("d2", 0, " ".join(dtoks[:109] + ["x9"]), "calc"),
    ]
    cfg = DedupeConfig(revision_field="tool")
    res = run_pipeline(spark, _tdf(spark, rows), cfg, with_spans=False)
    st = {(r.id_a, r.id_b): r.status for r in res.verified.collect()}
    cl = {r.conv_id: r.cluster_id for r in res.clusters.collect()}
    assert st[("u1", "u2")] == "likely_duplicate", st
    assert cl["u1"] == cl["u2"]
    assert st[("d1", "d2")] == "needs_review", st
    assert cl["d1"] != cl["d2"]

    control = run_pipeline(spark, _tdf(spark, rows), DedupeConfig(), with_spans=False)
    cst = {(r.id_a, r.id_b): r.status for r in control.verified.collect()}
    assert cst[("u1", "u2")] == "needs_review"
    assert cst[("d1", "d2")] == "likely_duplicate"


def test_match_guard_uses_member_own_signature(spark):
    """api.match applies the guard AFTER member expansion: two
    byte-identical canonical members with different tool evidence get
    DIFFERENT verdicts against the same incoming conversation."""
    body = " ".join(f"m{i:02d}" for i in range(40))
    canon = [
        _turn("c1", 0, body, "web"),   # tool-bearing member
        _turn("c2", 0, body),          # tool-less member (same text/sha)
    ]
    inc = [_turn("n1", 0, body)]       # tool-less incoming
    got = {
        (r.canonical_id, r.incoming_id): r.status
        for r in match(
            spark,
            _tdf(spark, canon),
            _tdf(spark, inc),
            DedupeConfig(asymmetry_field="tool"),
        ).collect()
    }
    assert got[("c1", "n1")] == "null_dupe"
    assert got[("c2", "n1")] == "exact_duplicate"


def test_member_own_signature_reaches_external_neardup(spark):
    """Review finding (r5): with a refused hub edge, a member must
    still reach an external near-dup its OWN signature is compatible
    with — reps are per (sha, signature) subgroup in aux mode, so the
    tool-bearing member bands itself and the M-X pair materializes."""
    toks = [f"v{i:03d}" for i in range(110)]
    base = " ".join(toks)
    near = " ".join(toks[:109] + ["x9"])  # j ~ 0.98, likely band
    rows = [
        _turn("a0", 0, base),               # rep of the no-tool subgroup (min id)
        _turn("m1", 0, base, "web"),        # tool-bearing member, same text
        _turn("x1", 0, near, "web"),        # external near-dup, same tool
    ]
    cfg = DedupeConfig(asymmetry_field="tool")
    res = run_pipeline(spark, _tdf(spark, rows), cfg, with_spans=False)
    st = {(r.id_a, r.id_b): r.status for r in res.verified.collect()}
    cl = {r.conv_id: r.cluster_id for r in res.clusters.collect()}
    assert st[("a0", "m1")] == "null_dupe"          # hub edge refused
    assert st[("m1", "x1")] == "likely_duplicate"   # member's own pair
    assert cl["m1"] == cl["x1"]
    assert cl["a0"] != cl["m1"]


def test_refresh_and_stream_refuse_aux_configs(spark, tmp_path):
    """Review findings (r5): the refresh and streaming paths keep
    per-sha rep/star shapes that are verdict-unsound under aux rules —
    both must refuse loudly instead of silently breaking parity."""
    import pytest as _pytest

    from lieu_spark.operators.refresh import refresh_dedupe
    from lieu_spark.streaming.ingest import IncrementalDeduper

    cfg = DedupeConfig(asymmetry_field="tool")
    with _pytest.raises(ValueError, match="aux"):
        IncrementalDeduper(spark, str(tmp_path / "w"), cfg)
    empty = spark.createDataFrame([], "conv_id string, text_sha string")
    with _pytest.raises(ValueError, match="aux"):
        refresh_dedupe(empty, empty, empty, empty, cfg, lambda df: df)


def test_grouped_star_hub_edges_linear_in_subgroups(spark):
    """Review finding (r5 pass 2): a boilerplate sha with MANY distinct
    signatures must cost O(subgroups) hub edges, not O(subgroups^2) —
    the class-star shape. Also: clustering equivalence with the
    all-pairs hub join on a small mixed case."""
    from lieu_spark.operators.cluster import connected_components
    from lieu_spark.operators.exact import exact_star_pairs_grouped

    n = 4000
    rows = [(f"c{i:05d}", "sha1", f"sig{i}", "1" if i % 2 else "0") for i in range(n)]
    df = spark.createDataFrame(
        rows, "conv_id string, text_sha string, aux_sig string, aux_class string"
    )
    edges = exact_star_pairs_grouped(df, "aux_sig", class_col="aux_class")
    cnt = edges.count()
    # (n/2 - 1) per class star + 1 cross-class edge; all-pairs would be
    # n*(n-1)/2 ~ 8M
    assert cnt == (n // 2 - 1) * 2 + 1, cnt

    # clustering parity with the all-pairs form on a small mixed case
    small = spark.createDataFrame(
        [
            ("a", "s1", "x", "1"), ("b", "s1", "x", "1"),   # subgroup {a,b}
            ("c", "s1", "y", "1"),                          # subgroup {c}
            ("d", "s1", "", "0"),                           # absent class
            ("e", "s2", "z", "1"), ("f", "s2", "z", "1"),
        ],
        "conv_id string, text_sha string, aux_sig string, aux_class string",
    )
    def clusters(edges_df):
        comp = connected_components(edges_df)
        return {
            frozenset([r.conv_id, r.cluster_id])
            for r in comp.collect()
        }
    e_class = exact_star_pairs_grouped(small, "aux_sig", class_col="aux_class")
    e_full = exact_star_pairs_grouped(small, "aux_sig")
    # same node set, same components once refused (cross-class) edges
    # are dropped the same way downstream; here compare the RAW closure
    # since every within-class edge is a dupe edge
    ccls = connected_components(e_class).collect()
    cfull = connected_components(e_full).collect()
    m1 = {r.conv_id: r.cluster_id for r in ccls}
    m2 = {r.conv_id: r.cluster_id for r in cfull}
    assert m1 == m2, (m1, m2)


def test_aux_mode_same_sha_pairs_never_reach_span_kernel(spark):
    """r5 advisory (pipeline spans exclusion): under aux rules winnow
    runs over per-(sha, aux_sig) subgroup reps, so byte-identical texts
    can pair via shared fingerprints while verified materializes only
    the class-star hub edges — a cross-class rep pair where either rep
    is not its class min used to slip past the left_anti on verified
    and push two full-length identical docs through the LCS kernel,
    emitting a whole-doc span for a pair the guard refused. The sha
    equi-check must drop EVERY same-sha pair from span candidates."""
    body = " ".join(f"w{i:02d}" for i in range(60))
    rows = [
        _turn("a1", 0, body),                   # tool-less subgroup
        _turn("b1", 0, body, "web_search"),     # tool subgroup 1
        _turn("d1", 0, body, "calc"),           # tool subgroup 2
        # control pair: genuinely partial overlap across DIFFERENT shas
        # keeps flowing to the kernel
        _turn("p1", 0, body + " tail one zz"),
        _turn("p2", 0, body + " tail two aa qq ffff gg hh iii jj kk"),
    ]
    cfg = DedupeConfig(asymmetry_field="tool")
    res = run_pipeline(spark, _tdf(spark, rows), cfg, with_spans=True)
    same_sha_ids = {"a1", "b1", "d1"}
    spans = res.spans.collect()
    offenders = [
        (r.id_a, r.id_b)
        for r in spans
        if r.id_a in same_sha_ids and r.id_b in same_sha_ids
    ]
    assert offenders == [], offenders
    # same-sha refusals are present (the guard fired), yet none leaked
    # into spans — the by-key exclusion holds regardless of which
    # refused pairs the candidate families happened to materialize
    st = {
        (r.id_a, r.id_b)
        for r in res.verified.filter(F.col("status") == "null_dupe").collect()
    }
    assert ("a1", "b1") in st

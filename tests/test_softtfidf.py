"""Soft-TFIDF verifier (functions/softtfidf.py) — lieu similarity.py parity.

Three layers:
1. the numpy Jaro-Winkler kernel is bit-equal (at sim6 quantization) to
   DuckDB's jaro_winkler_similarity, which the SQL oracle uses — fuzzed
   over ascii + multi-byte unicode;
2. the whole-batch Soft-TFIDF kernel matches an independent pure-python
   reimplementation of lieu's algorithm (shorter-side iteration, argmax
   with larger-j tie-break, theta gate);
3. end-to-end: the planted typo pairs (q_soft_tfidf_pairs) are invisible
   to the shingle tier (j6 << review threshold) and separated from
   non-dup control pairs by the soft tier; verify_mode="soft_tfidf"
   classifies through the standard verify_pairs surface.
"""

import random

import numpy as np
import pandas as pd
import pytest
from conftest import duckdb_connect
from pyspark.sql import functions as F

from lieu_spark.config import DedupeConfig
from lieu_spark.functions.softtfidf import (
    jaro_winkler_sim6,
    soft_tfidf_batch,
    soft_tfidf_for_pairs,
)

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# 1. JW kernel == DuckDB
# ---------------------------------------------------------------------------


def _duck_jw6(cases):
    con = duckdb_connect()
    con.execute("CREATE TABLE t(i INT, a VARCHAR, b VARCHAR)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?, ?)", [(i, a, b) for i, (a, b) in enumerate(cases)]
    )
    return dict(
        con.execute(
            "SELECT i, CAST(round(jaro_winkler_similarity(a, b) * 1e6) AS BIGINT) FROM t"
        ).fetchall()
    )


def test_jw_kernel_matches_duckdb_fuzz():
    rng = random.Random(20260816)
    cases = [
        ("", ""), ("a", ""), ("", "b"), ("AB", "AB"),
        ("MARTHA", "MARHTA"), ("DIXON", "DICKSONX"),
        ("JELLYFISH", "SMELLYFISH"), ("receive", "recieve"),
        ("日本語のテスト", "日本語のテスよ"),
    ]
    for _ in range(4000):
        alpha = rng.choice(["abc", "abcdefgh", "abcdefg日本語éü", "aあ"])
        a = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 16)))
        b = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 16)))
        cases.append((a, b))
    mine = jaro_winkler_sim6(
        [a.encode() for a, _ in cases], [b.encode() for _, b in cases]
    )
    ref = _duck_jw6(cases)
    bad = [(cases[i], int(mine[i]), ref[i]) for i in range(len(cases)) if mine[i] != ref[i]]
    assert not bad, bad[:5]


# ---------------------------------------------------------------------------
# 2. batch kernel == independent pure-python lieu reimplementation
# ---------------------------------------------------------------------------


def _jw_py(a: bytes, b: bytes) -> float:
    """Independent scalar JW (DuckDB semantics): byte-level, floored
    half-transpositions, boost iff jaro > 0.7, prefix cap 4."""
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    d = max(max(la, lb) // 2 - 1, 0)
    used = [False] * lb
    ma = []
    for i in range(la):
        for j in range(max(0, i - d), min(lb, i + d + 1)):
            if not used[j] and a[i] == b[j]:
                used[j] = True
                ma.append((i, j))
                break
    m = len(ma)
    if m == 0:
        return 0.0
    sa = [a[i] for i, _ in ma]
    sb = [b[j] for j in sorted(j for _, j in ma)]
    t = sum(x != y for x, y in zip(sa, sb)) // 2
    jaro = (m / la + m / lb + (m - t) / m) / 3.0
    pref = 0
    for x, y in zip(a[:4], b[:4]):
        if x != y:
            break
        pref += 1
    return jaro + pref * 0.1 * (1.0 - jaro) if jaro > 0.7 else jaro


def _soft_py(ts1, ts2, theta6=950_000):
    """lieu similarity.py:14-60 on (token, score) lists, sim6-quantized."""
    if len(ts2) < len(ts1):
        ts1, ts2 = ts2, ts1
    total, n_close = 0.0, 0
    for t1, s1 in ts1:
        best = max(
            (round(_jw_py(t1.encode(), t2.encode()) * 1e6), j)
            for j, (t2, _) in enumerate(ts2)
        )
        if best[0] >= theta6:
            total += best[0] / 1e6 * s1 * ts2[best[1]][1]
            n_close += 1
    return n_close, total


def test_soft_batch_matches_pure_python():
    rng = random.Random(42)
    vocab = ["receive", "recieve", "spark", "sprak", "entity00731",
             "enitty00731", "merge", "join", "the", "a", "windowframe",
             "winodwframe", "batch", "btach"]
    rows = []
    for _ in range(60):
        k1, k2 = rng.randint(0, 6), rng.randint(0, 6)
        t1 = sorted(rng.sample(vocab, k1))
        t2 = sorted(rng.sample(vocab, k2))
        s1 = [round(rng.uniform(0.05, 0.9), 6) for _ in t1]
        s2 = [round(rng.uniform(0.05, 0.9), 6) for _ in t2]
        # caller contract: side i is the shorter side
        if len(t2) < len(t1):
            t1, s1, t2, s2 = t2, s2, t1, s1
        rows.append((t1, s1, t2, s2))
    nc, soft = soft_tfidf_batch(
        pd.Series([r[0] for r in rows]), pd.Series([r[1] for r in rows]),
        pd.Series([r[2] for r in rows]), pd.Series([r[3] for r in rows]),
    )
    for i, (t1, s1, t2, s2) in enumerate(rows):
        enc, esoft = _soft_py(list(zip(t1, s1)), list(zip(t2, s2)))
        assert nc[i] == enc, (i, rows[i])
        assert abs(soft[i] - esoft) < 1e-9, (i, soft[i], esoft)


# ---------------------------------------------------------------------------
# 3. end-to-end: typo pairs — shingle tier misses, soft tier catches
# ---------------------------------------------------------------------------


def test_typo_pairs_shingle_misses_soft_catches(spark):
    from lieu_spark import queries as Q

    rows = Q.q_soft_tfidf_pairs(spark, SF_DIR).collect()
    assert len(rows) == 25
    # shingle tier: every planted typo pair falls below even the review
    # threshold (0.7) — the set-based tier classifies them NON
    assert all(r.shingle_j6 < 700_000 for r in rows)
    # soft tier: clear separation from non-dup controls (below)
    assert all(r.soft6 >= 400_000 for r in rows), sorted(r.soft6 for r in rows)[:3]

    d = Q.typo_aug(spark, SF_DIR)
    from lieu_spark.functions import text as T

    docs_tokens = d.select("doc_id", T.tokenize(F.col("text")).alias("tokens"))
    base = Q.load(spark, SF_DIR, "documents")
    ctrl = base.filter(F.col("doc_id") < 25).select(
        F.col("doc_id").alias("id_a"),
        (300000 + (F.col("doc_id") + 1) % 25).alias("id_b"),
    )
    ctrl_rows = soft_tfidf_for_pairs(ctrl, docs_tokens).collect()
    assert max(r.soft6 for r in ctrl_rows) < 400_000


def test_verify_mode_soft_tfidf(spark):
    from lieu_spark.operators.verify import (
        STATUS_EXACT,
        STATUS_NON,
        verify_pairs,
    )

    docs = [
        (1, "alpha bravoqq charliezz deltaxx echo notarealword12"),
        (2, "alpha brvaoqq chalriezz detlaxx echo noatrealword12"),   # typos of 1
        (3, "alpha bravoqq charliezz deltaxx echo notarealword12"),   # exact of 1
        (4, "totally differentcontent herexyz unrelatedstuffab qq"),
    ]
    feats = spark.createDataFrame(docs, ["conv_id", "doc"]).select(
        "conv_id",
        F.col("doc"),
        F.sha2(F.col("doc"), 256).alias("text_sha"),
        F.split(F.col("doc"), " ").alias("tokens"),
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], ["id_a", "id_b"]
    )
    cfg = DedupeConfig(verify_mode="soft_tfidf")
    out = {(r.id_a, r.id_b): r for r in verify_pairs(pairs, feats, cfg).collect()}
    assert out[(1, 3)].status == STATUS_EXACT
    assert out[(1, 4)].status == STATUS_NON
    # the typo pair scores well above the non-pair
    assert out[(1, 2)].jaccard > out[(1, 4)].jaccard + 0.3
    assert out[(1, 2)].method == "minhash_lsh"


def test_verify_mode_soft_tfidf_keeps_tokenless_exact_pairs(spark):
    """A pair of byte-identical docs whose text tokenizes EMPTY has no
    soft score (no token rows) — the verifier must still classify it
    EXACT via text_sha, like every other mode, not drop the pair (the
    pipeline promises content-empty convs pair via the exact-sha star)."""
    from lieu_spark.operators.verify import STATUS_EXACT, verify_pairs

    feats = spark.createDataFrame(
        [(1, "!!!"), (2, "!!!"), (3, "alpha beta gamma")],
        ["conv_id", "doc"],
    ).select(
        "conv_id",
        F.col("doc"),
        F.sha2(F.col("doc"), 256).alias("text_sha"),
        # "!!!" canonicalizes to no tokens
        F.array_remove(F.split(F.regexp_replace("doc", r"[^\w ]", ""), " "), "").alias(
            "tokens"
        ),
    )
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    cfg = DedupeConfig(verify_mode="soft_tfidf")
    rows = verify_pairs(pairs, feats, cfg).collect()
    assert len(rows) == 1, "token-less exact pair was dropped"
    assert rows[0].status == STATUS_EXACT
    assert rows[0].jaccard == 0.0  # soft score absent -> 0-fill


def test_long_neardup_docs_not_deflated(spark):
    """Round-2 advisory (medium): two long near-identical transcripts —
    every token matching at sim 1.0 but with MANY more distinct tokens
    than soft_max_tokens — must still score ~1.0. Under the old
    full-vector norm the kept-64 squared mass shrank with vocabulary and
    verify_mode=soft_tfidf silently lost exactly these pairs."""
    import random

    from lieu_spark.functions.softtfidf import soft_tfidf_for_pairs

    rng = random.Random(7)
    # 300 distinct rare-ish tokens per doc (>> soft_max_tokens=64)
    vocab = [f"tok{rng.randrange(10**6):06d}x{i}" for i in range(300)]
    base = vocab + ["the", "a", "of"] * 10
    docs = []
    for d in range(6):
        toks = list(base)
        rng.shuffle(toks)
        docs.append((d, toks))
    # doc 100 = byte-identical token multiset of doc 0 (shuffled order)
    twin = list(docs[0][1])
    rng.shuffle(twin)
    docs.append((100, twin))
    tok_df = spark.createDataFrame(
        [(i, t) for i, t in docs], "doc_id long, tokens array<string>"
    )
    pairs = spark.createDataFrame([(0, 100)], "id_a long, id_b long")
    row = soft_tfidf_for_pairs(pairs, tok_df).collect()[0]
    score = row.soft6 / 1e6
    assert score >= 0.99, (
        f"identical long docs deflated to {score}; kept-vector "
        "renormalization regressed"
    )

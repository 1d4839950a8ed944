#!/usr/bin/env python3
"""A/B probe for the connected-components star-step shape (round 6).

Variant "new" removes `_large_star`'s trailing `.distinct()` (one full
exchange per CC iteration): `_small_star`'s `min()` aggregate is
duplicate-insensitive and its own final `.distinct()` dedupes the join
output, so the per-iteration edge SET is unchanged — only the internal
dedup exchange disappears. The monkeypatch keeps the library untouched
so both arms run from the same tree (interleave arms across processes:
`for v in old new old new; do spark-submit ... --variant $v; done`).

Builds the pipeline up to verified (persisted), then times
connected_components + clusters_with_singletons and prints a signature
(count + xor-hash of (conv_id, cluster_id)) for cross-arm parity.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import pandas as pd  # noqa: E402  (pandas_udf hints resolve here)
from pyspark.sql import functions as F  # noqa: E402

from lieu_spark.config import DedupeConfig  # noqa: E402
from lieu_spark.session import build_session  # noqa: E402


def _large_star_nodistinct(edges):
    sym = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("minv"))
    out = (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(
            F.col("v").alias("u"),
            F.least(F.col("minv"), F.col("u")).alias("v"),
        )
    )
    return out.filter(F.col("u") != F.col("v"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--variant", choices=["old", "new"], required=True)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--rounds", type=int, default=3)
    args = ap.parse_args()

    cfg = DedupeConfig()
    spark = build_session(f"probe_cc_ab_{args.variant}", cores=args.cores)
    sc = spark.sparkContext

    from lieu_spark.operators import cluster as cluster_mod

    if args.variant == "new":
        cluster_mod._large_star = _large_star_nodistinct

    # warmup python workers (mirror bench.py)
    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s + 0

    spark.range(0, args.cores * 4, 1, numPartitions=args.cores * 2).select(
        F.sum(_warm(F.col("id")))
    ).collect()

    tdf = spark.read.parquet(args.corpus)

    from lieu_spark.operators.assemble import assemble_conversations
    from lieu_spark.operators import blocking
    from lieu_spark.operators.lsh import band_table_dual
    from lieu_spark.operators.verify import dupe_pairs, verify_pairs
    from lieu_spark.pipeline import build_features

    conversations = assemble_conversations(
        tdf, max_turns=cfg.max_turns_per_conv
    ).persist()
    conversations.count()
    features = build_features(conversations, cfg).persist()
    features.count()
    slim_cols = [
        "conv_id", "text_sha", "shingle_hashes", "sig", "simhash",
        "char_primary", "alt_hashes", "alt_sig",
    ]
    feat_slim = features.select(*slim_cols)
    feat_reps = blocking.representatives(feat_slim)
    bands = band_table_dual(feat_reps, cfg).persist()
    bands.count()
    candidates = (
        blocking.within_candidates(feat_reps, bands, feat_slim, cfg)
        .groupBy("id_a", "id_b")
        .agg(F.array_sort(F.collect_set("source")).alias("sources"))
        .persist()
    )
    candidates.count()
    verified = verify_pairs(
        candidates, feat_slim, cfg, method=f"jaccard_{cfg.verify_mode}"
    ).persist()
    verified.count()

    from lieu_spark.operators.cluster import (
        clusters_with_singletons,
        connected_components,
    )

    walls = []
    sig = None
    for i in range(args.rounds):
        sc.setJobDescription(f"probe_cc_ab {args.variant} round {i}")
        t0 = time.time()
        comp = connected_components(dupe_pairs(verified))
        clusters = clusters_with_singletons(conversations, comp)
        row = clusters.select(
            F.count("*").alias("c"),
            F.coalesce(
                F.bit_xor(F.xxhash64("conv_id", "cluster_id")), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        walls.append(round(time.time() - t0, 3))
        sig = (row["c"], row["h"])
        sc.setJobDescription(None)

    print(json.dumps({"variant": args.variant, "walls": walls, "sig": sig}))
    spark.stop()


if __name__ == "__main__":
    main()

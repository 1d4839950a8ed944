#!/usr/bin/env python3
"""Round-6 optimization probe: isolate each headline-pipeline stage with
a noop sink (guide §1.4) and dump .explain("formatted") per stage.

Each stage consumes the PERSISTED previous stage, so its wall is its own
computation, not upstream lineage. Jobs are labeled (guide §1.5).

Usage:
  spark-submit --master local[32] --driver-memory 8g \
      jobs/probe_r06.py --corpus .bench_cache/transcripts_sf0.1/transcripts.parquet \
      [--plans-dir plans/r06 --suffix _before] [--stages features,candidates]

Prints one JSON line {stage: wall_sec}.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import pandas as pd  # noqa: E402  (module-global: pandas_udf hints resolve here)
from pyspark.sql import functions as F  # noqa: E402

from lieu_spark.config import DedupeConfig  # noqa: E402
from lieu_spark.session import build_session  # noqa: E402


def noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="_before")
    ap.add_argument("--stages", default=None, help="comma list; default all")
    ap.add_argument("--cores", type=int, default=32)
    args = ap.parse_args()
    only = set(args.stages.split(",")) if args.stages else None

    cfg = DedupeConfig()
    spark = build_session("probe_r06", cores=args.cores)
    sc = spark.sparkContext
    plans = Path(args.plans_dir) if args.plans_dir else None
    if plans:
        plans.mkdir(parents=True, exist_ok=True)

    def dump_plan(name: str, df) -> None:
        if plans:
            (plans / f"{name}{args.suffix}.txt").write_text(
                df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            )

    walls: dict[str, float] = {}

    def run(name: str, df, persist: bool = True):
        dump_plan(name, df)
        if only is not None and name not in only:
            if persist:
                df = df.persist()
                df.count()
            return df
        sc.setJobDescription(f"probe_r06: {name}")
        if persist:
            df = df.persist()
            t0 = time.time()
            df.count()
            walls[name] = round(time.time() - t0, 3)
        else:
            walls[name] = round(noop(df), 3)
        sc.setJobDescription(None)
        return df

    # warmup python workers (mirror bench.py)
    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s + 0

    spark.range(0, args.cores * 4, 1, numPartitions=args.cores * 2).select(
        F.sum(_warm(F.col("id")))
    ).collect()

    tdf = spark.read.parquet(args.corpus)

    from lieu_spark.operators.assemble import assemble_conversations
    from lieu_spark.pipeline import build_features

    conversations = run(
        "conversations",
        assemble_conversations(tdf, max_turns=cfg.max_turns_per_conv),
    )
    features = run("features", build_features(conversations, cfg))

    from lieu_spark.operators import blocking
    from lieu_spark.operators.lsh import band_table_dual

    slim_cols = [
        "conv_id", "text_sha", "shingle_hashes", "sig", "simhash",
        "char_primary", "alt_hashes", "alt_sig",
    ]
    feat_slim = features.select(*slim_cols)
    feat_reps = blocking.representatives(feat_slim)
    bands = run("bands", band_table_dual(feat_reps, cfg))
    candidates = run(
        "candidates",
        blocking.within_candidates(feat_reps, bands, feat_slim, cfg)
        .groupBy("id_a", "id_b")
        .agg(F.array_sort(F.collect_set("source")).alias("sources")),
    )

    from lieu_spark.operators.verify import dupe_pairs, verify_pairs

    verified = run(
        "verified",
        verify_pairs(candidates, feat_slim, cfg, method=f"jaccard_{cfg.verify_mode}"),
    )

    from lieu_spark.operators.cluster import (
        clusters_with_singletons,
        connected_components,
    )

    sc.setJobDescription("probe_r06: clusters")
    t0 = time.time()
    comp = connected_components(dupe_pairs(verified))
    clusters = clusters_with_singletons(conversations, comp).persist()
    clusters.count()
    walls["clusters"] = round(time.time() - t0, 3)
    sc.setJobDescription(None)
    dump_plan("clusters", clusters)

    from lieu_spark.operators.spans import (
        copied_spans,
        span_candidates,
        winnow_span_candidates,
    )
    from lieu_spark.operators.verify import STATUS_EXACT, STATUS_LIKELY, STATUS_NULL

    winnow = winnow_span_candidates(feat_reps, cfg)
    mid = span_candidates(verified, cfg)
    dupes = verified.filter(
        F.col("status").isin(STATUS_EXACT, STATUS_LIKELY, STATUS_NULL)
    ).select("id_a", "id_b")
    cand = (
        winnow.unionByName(mid)
        .dropDuplicates(["id_a", "id_b"])
        .join(dupes, ["id_a", "id_b"], "left_anti")
    )
    docs = conversations.select("conv_id", "doc")
    pa = docs.select(F.col("conv_id").alias("id_a"), F.col("doc").alias("doc_a"))
    pb = docs.select(F.col("conv_id").alias("id_b"), F.col("doc").alias("doc_b"))
    joined = cand.join(pa, "id_a").join(pb, "id_b")
    spans = copied_spans(joined, cfg)
    if only is None or "spans" in only:
        sc.setJobDescription("probe_r06: spans")
        walls["spans"] = round(noop(spans), 3)
        sc.setJobDescription(None)
    dump_plan("spans", spans)

    print(json.dumps(walls))
    spark.stop()


if __name__ == "__main__":
    main()

"""One benchmark sample: a fresh Spark driver process.

``run.py`` launches this file through ``spark-submit --py-files
lieu_spark.zip``, the job shape of ``jobs/run_dedupe.py``, and reads the
JSON it writes to ``--out``. The process sets up (session, UDF worker
warm-up, input registration), runs the workload's timed region, checks
the outputs, and with ``--trace 1`` also records per-layer windows
(``tracing.py``). Untraced, the timed region repeats for about
``--seconds`` (``iterations``), each iteration on fresh stage-store or
stream directories with the session's cache cleared, and each checked
on its own; an iteration whose check fails is reported with
``ok: false`` and contributes no timing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import pandas as pd  # module-global: pandas_udf type hints resolve here

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

RECALL_GATE = 0.99  # BASELINE.json's dup-pair recall gate
# nominal length of one timed iteration on a 4-core machine, in seconds:
# a cold dedupe pass takes about 28 s and a warm one 17 s; a two-file
# stream drain about 36-40 s
ITERATION_S = {"dedupe-mixed": 22.5, "stream-append": 40.0}


def canon(rows) -> set[frozenset]:
    """Cluster map as a set of member sets: independent of cluster ids."""
    groups: dict = {}
    for r in rows:
        groups.setdefault(r["cluster_id"], set()).add(r["conv_id"])
    return {frozenset(v) for v in groups.values()}


def pair_recall(verified_df, should: list[list[str]]) -> float:
    """Share of the planted duplicate pairs the run's verify step
    classified as duplicates (``dupe_pairs``), as bench.py's recall gate
    measures it."""
    from lieu_spark.operators.verify import dupe_pairs

    if not should:
        return 1.0
    found = {(r.id_a, r.id_b) for r in dupe_pairs(verified_df).select("id_a", "id_b").collect()}
    return sum((a, b) in found for a, b in should) / len(should)


def cluster_recall(cid: dict, should: list[list[str]]) -> float:
    """Share of the planted duplicate pairs whose two conversations the
    run put in one cluster (``cid``: conv_id -> cluster_id). Used on
    stream-append, where a pair-level recall does not apply: the stream
    withholds a duplicate from its index, so its other planted partners
    join it through connected components rather than through a direct
    pair."""
    if not should:
        return 1.0
    return sum(cid.get(a) is not None and cid.get(a) == cid.get(b) for a, b in should) / len(should)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def iterations(spark, res):
    """Iteration numbers of the timed loop: one when traced, else
    ``round(seconds / ITERATION_S[workload])`` (at least one). The count
    depends on ``--seconds`` alone, not on how fast this machine runs,
    so every run of a workload mixes cold and warm iterations alike."""
    n = 1 if res["trace"] else max(1, round(res["seconds"] / ITERATION_S[res["workload"]]))
    for k in range(n):
        if k:
            # drop every frame the last iteration persisted, so no
            # iteration reuses another's cached work
            spark.catalog.clearCache()
        yield k


def run_dedupe(spark, cfg, inputs, meta, work, trace, res):
    """Timed region, once per iteration: run_pipeline with a fresh stage
    store and spans on, then the pairs/clusters/spans/band_stats commit
    of run_dedupe.py. The first iteration pays the engine's code
    generation and JIT, as a scheduled job does. Each iteration is
    checked on its own outputs."""
    from lieu_spark.checkpoint import StageStore
    from lieu_spark.pipeline import run_pipeline

    from tracing import TracedStore

    tdf = spark.read.parquet(os.path.join(inputs, "transcripts.parquet"))
    turns = tdf.count()
    res["setup_s"] = time.time() - res["launched"]

    for k in iterations(spark, res):
        out = os.path.join(work, f"out-{k}")
        root = os.path.join(work, f"stages-{k}")
        store = TracedStore(root, trace=trace) if trace else StageStore(root)

        t0 = time.time()
        if trace:
            trace.switch("assemble")
        pr = run_pipeline(
            spark, tdf, cfg, store=store, metrics_dir=os.path.join(out, "metrics")
        )
        pr.verified.write.mode("overwrite").parquet(os.path.join(out, "pairs"))
        pr.clusters.write.mode("overwrite").parquet(os.path.join(out, "clusters"))
        pr.spans.write.mode("overwrite").parquet(os.path.join(out, "spans"))
        pr.band_stats.write.mode("overwrite").parquet(os.path.join(out, "band_stats"))
        timed = time.time() - t0
        if trace:
            trace.stop()

        recall = pair_recall(
            spark.read.parquet(os.path.join(out, "pairs")), meta["should_pairs"]
        )
        res["iterations"].append({
            "turns": turns, "timed_s": timed,
            "recall": recall, "checks": {"recall": recall >= RECALL_GATE},
        })
        if k == 0:
            res["peak_rss_mb"] = jvm_peak_rss_mb(spark)
        if trace and not res["baseline"]:
            res["extra"] = pipeline_extras(spark, cfg, store, root)
            refresh_traced(spark, cfg, inputs, store, out, trace, res)
        else:
            shutil.rmtree(root, ignore_errors=True)
            shutil.rmtree(out, ignore_errors=True)


def pipeline_extras(spark, cfg, store, root) -> dict:
    """Layer ratios read back from the committed stage tables, after the
    timed region."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lieu_spark.operators.spans import span_candidates, winnow_span_candidates
    from lieu_spark.operators.verify import (
        STATUS_EXACT,
        STATUS_LIKELY,
        STATUS_NULL,
        STATUS_REVIEW,
    )

    from tracing import dir_mb

    ld = lambda name: store.load(spark, name)  # noqa: E731
    n_docs = ld("conversations").count()
    n_cand = ld("candidates").count()
    verified = ld("verified")
    n_dupe = verified.filter(
        F.col("status").isin(STATUS_EXACT, STATUS_LIKELY, STATUS_REVIEW)
    ).count()
    sizes = ld("clusters").groupBy("cluster_id").count()
    largest = sizes.agg(F.max("count")).first()[0] or 0
    # span candidates rebuilt from the stage tables with the spans
    # module's public blocking functions, as run_pipeline blocks them
    feats = ld("features").filter(F.size("shingle_hashes") > 0)
    reps = (
        feats.withColumn("_rep", F.min("conv_id").over(Window.partitionBy("text_sha")))
        .filter(F.col("conv_id") == F.col("_rep"))
        .drop("_rep")
    )
    dupes = verified.filter(
        F.col("status").isin(STATUS_EXACT, STATUS_LIKELY, STATUS_NULL)
    ).select("id_a", "id_b")
    n_span_cand = (
        winnow_span_candidates(reps, cfg)
        .unionByName(span_candidates(verified, cfg))
        .dropDuplicates(["id_a", "id_b"])
        .join(dupes, ["id_a", "id_b"], "left_anti")
        .count()
    )
    n_span_pairs = ld("spans").select("id_a", "id_b").distinct().count()
    return {
        "lsh": {"hot_groups": ld("band_stats").filter("is_hot").count()},
        "candidates": {"pairs_per_doc": n_cand / max(n_docs, 1)},
        "verify": {"dupe_ratio": n_dupe / max(n_cand, 1)},
        "cluster": {"largest_component": largest},
        "spans": {"hit_ratio": n_span_pairs / max(n_span_cand, 1)},
        "checkpoint": {"write_mb": dir_mb(root)},
    }


def refresh_traced(spark, cfg, inputs, store, out, trace, res):
    """Refresh layer: refresh_pipeline from this run's stage store onto
    the seeded snapshot 2, committed like run_refresh.py, then checked
    against a from-scratch run on the same snapshot."""
    from lieu_spark.operators.refresh import refresh_pipeline
    from lieu_spark.pipeline import run_pipeline

    snap2 = spark.read.parquet(os.path.join(inputs, "snapshot2.parquet"))
    snap2.count()
    trace.switch("refresh")
    ref = refresh_pipeline(spark, store, snap2, cfg)
    ref.clusters.write.mode("overwrite").parquet(os.path.join(out, "refresh_clusters"))
    ref.verified.write.mode("overwrite").parquet(os.path.join(out, "refresh_pairs"))
    trace.stop()
    res["extra"]["refresh"] = {"delta_rows": ref.delta.count()}
    got = spark.read.parquet(os.path.join(out, "refresh_clusters"))
    scratch = run_pipeline(spark, snap2, cfg, with_spans=False).clusters
    res["iterations"][-1]["checks"]["refresh_parity"] = canon(got.collect()) == canon(
        scratch.select("conv_id", "cluster_id").collect()
    )


def batch_reference(spark, cfg, tdf, inputs) -> set[frozenset]:
    """The batch run_pipeline cluster map of the stream's input, as a
    set of member sets. Built once per input, after the timed region,
    and kept beside the input."""
    from lieu_spark.pipeline import run_pipeline

    path = os.path.join(inputs, "batch_clusters.json")
    if not os.path.exists(path):
        clusters = run_pipeline(spark, tdf, cfg, with_spans=False).clusters
        groups = canon(clusters.select("conv_id", "cluster_id").collect())
        with open(path + ".tmp", "w") as fh:
            json.dump(sorted(sorted(g) for g in groups), fh)
        os.replace(path + ".tmp", path)
    with open(path) as fh:
        return {frozenset(g) for g in json.load(fh)}


def run_stream_append(spark, cfg, inputs, meta, work, trace, res):
    """Timed region, once per iteration: run_stream drains the arrival
    files into a fresh stream directory, one file per micro-batch
    (closed-loop catch-up). Each drain is checked against the batch
    run_pipeline cluster map of the same input (``batch_reference``)."""
    from lieu_spark.operators.cluster import connected_components
    from lieu_spark.operators.verify import dupe_pairs
    from lieu_spark.streaming.ingest import run_stream

    from tracing import dir_mb

    arrivals = os.path.join(inputs, "arrivals")
    tdf = spark.read.parquet(arrivals)
    turns = tdf.count()
    res["setup_s"] = time.time() - res["launched"]
    mdir = os.path.join(work, "metrics") if trace else None

    sdirs = []
    for k in iterations(spark, res):
        sdir = os.path.join(work, f"stream-{k}")
        t0 = time.time()
        if trace:
            trace.switch("ingest")
        q = run_stream(
            spark, arrivals, sdir, cfg, available_now=True, files_per_trigger=1,
            metrics_dir=mdir,
        )
        timed = time.time() - t0
        if trace:
            trace.stop()
        lat = [
            p["durationMs"]["triggerExecution"] / 1000.0
            for p in q.recentProgress
            if p["numInputRows"] > 0
        ]
        res["iterations"].append({
            "turns": turns, "timed_s": timed, "latencies_s": lat,
            "checks": {"batches": len(lat) == meta["files"]},
        })
        sdirs.append(sdir)
        if k == 0:
            res["peak_rss_mb"] = jvm_peak_rss_mb(spark)

    want = batch_reference(spark, cfg, tdf, inputs)
    all_ids = set().union(*want)
    for it, sdir in zip(res["iterations"], sdirs):
        pairs = spark.read.parquet(os.path.join(sdir, "pairs"))
        cid = {c: c for c in all_ids}
        for r in connected_components(dupe_pairs(pairs)).collect():
            cid[r.conv_id] = r.cluster_id
        it["recall"] = cluster_recall(cid, meta["should_pairs"])
        it["checks"]["recall"] = it["recall"] >= RECALL_GATE
        it["checks"]["batch_parity"] = canon(
            {"conv_id": c, "cluster_id": cl} for c, cl in cid.items()
        ) == want
    if trace:
        from lieu_spark.metrics import read_metrics

        rows = read_metrics(spark, mdir).select("stage", "wall_sec").distinct().collect()
        walls = lambda p: [r.wall_sec for r in rows if r.stage.startswith(p)]  # noqa: E731
        lat = res["iterations"][0]["latencies_s"]
        res["extra"] = {
            "ingest": {
                "batch_latency_p50_s": statistics.median(lat),
                "match_p50_s": statistics.median(walls("stream_match@")),
                "fold_p50_s": statistics.median(walls("stream_fold@")),
                "latency_growth": lat[-1] / lat[0],
                "state_mb": sum(
                    dir_mb(os.path.join(sdirs[0], d)) for d in ("index", "bands", "shas")
                ),
                "batches": len(lat),
            }
        }


WORKLOADS = {"dedupe-mixed": run_dedupe, "stream-append": run_stream_append}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--launched", type=float, required=True)
    # how long the timed iterations run
    ap.add_argument("--seconds", type=float, required=True)
    # single-thread baseline sample: the traced pipeline only
    ap.add_argument("--baseline", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from lieu_spark.config import DedupeConfig
    from lieu_spark.session import attach_session

    from tracing import LayerTrace

    spark = attach_session(f"perfbench-{args.workload}")
    t_session = time.time()
    cores = spark.sparkContext.defaultParallelism

    # spin up python UDF workers on every core, as a scheduled job's
    # first pandas UDF would
    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s + 0

    spark.range(0, cores * 4, 1, numPartitions=cores * 2).select(
        F.sum(_warm(F.col("id")))
    ).collect()
    t_warm = time.time()

    res: dict = {
        "workload": args.workload,
        "cores": cores,
        "baseline": bool(args.baseline),
        "trace": bool(args.trace),
        "seconds": args.seconds,
        "launched": args.launched,
        "start_s": t_session - args.launched,
        "warmup_s": t_warm - t_session,
        "iterations": [],
        "extra": {},
        "error": None,
    }
    trace = LayerTrace(spark) if args.trace else None
    with open(os.path.join(args.inputs, "inputs.json")) as fh:
        meta = json.load(fh)
    try:
        WORKLOADS[args.workload](
            spark, DedupeConfig(), args.inputs, meta, args.work, trace, res
        )
        if trace:
            setup_end = args.launched + res["setup_s"]
            trace.windows.insert(0, ["session", args.launched, setup_end])
            res["layers"] = trace.layer_metrics()
            res["hook_s"] = trace.hook_s
    except Exception:  # noqa: BLE001 - the sample boundary reports any failure
        res["error"] = traceback.format_exc()
    for it in res["iterations"]:
        it["ok"] = res["error"] is None and all(it["checks"].values())
    with open(args.out, "w") as fh:
        json.dump(res, fh)
    spark.stop()


if __name__ == "__main__":
    main()

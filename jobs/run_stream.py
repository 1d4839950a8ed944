#!/usr/bin/env python3
"""spark-submit entrypoint for streaming/catch-up mode: drain transcript
parquet files landing in a directory through the foreachBatch
incremental deduper — the streaming twin of jobs/run_dedupe.py, with the
same packaging shape (north rule; reference analog: the mrjob-launched
batch-over-batch index merge, /root/reference/lib/lieu/spark/tfidf.py:43-45).

    spark-submit --master <...> --py-files /tmp/lieu_spark.zip \
      jobs/run_stream.py \
      --input    /path/to/landing_dir \
      --work-dir /path/to/stream_state \
      [--metrics-dir DIR] [--continuous] [--files-per-trigger 8]
      [--shingle-k 5] [--threshold 0.9]
      [--verify-mode shingles|signatures|soft_tfidf] [--compact]

State under --work-dir:
    index/batch_id=N/   canonical feature index, folded per batch
    bands/batch_id=N/   derived band table (MinHash bands and SimHash
                        chunks), folded per batch; the per-batch match
                        reads this, never re-bands the index
    shas/batch_id=N/    (conv_id, text_sha) fold, sha-sorted — the
                        cross-batch exact match reads this with the
                        batch's shas pushed into the scan
    pairs/batch_id=N/   verified pairs per batch (overwrite-
                        idempotent: a checkpoint replay rewrites its
                        own subdir instead of appending a duplicate)
    _stream_checkpoint/ Structured Streaming offsets — rerunning the
                        same command resumes and processes ONLY files
                        not yet seen (tested: tests/test_streaming.py)

Default is availableNow (drain what is on disk, then exit — the
cron-style catch-up mode); --continuous leaves the query running for a
live landing directory. Connected components over pairs/ reproduces the
batch pipeline's clusters byte-for-byte (stream_parity_equal in bench).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--metrics-dir", default=None)
    ap.add_argument("--files-per-trigger", type=int, default=8)
    ap.add_argument("--continuous", action="store_true")
    ap.add_argument("--shingle-k", type=int, default=5)
    ap.add_argument("--threshold", type=float, default=0.9)
    ap.add_argument(
        "--verify-mode",
        choices=["shingles", "signatures", "soft_tfidf"],
        default="shingles",
    )
    ap.add_argument(
        "--compact", action="store_true",
        help="after draining, merge all-but-newest batch subdirs of each "
             "state kind (index, bands, shas) into one (keeps long-lived "
             "state at O(1) subdirs; "
             "crash-safe, row-identical — streaming/ingest.compact_state)",
    )
    args = ap.parse_args()
    if args.compact and args.continuous:
        # compaction is single-writer (see compact_state): it must not
        # run concurrently with a live stream, and silently skipping it
        # would let state grow one subdir per micro-batch unnoticed
        ap.error(
            "--compact requires drain mode: stop the stream (or use the "
            "default availableNow catch-up run) before compacting"
        )


    from lieu_spark.config import DedupeConfig
    from lieu_spark.streaming.ingest import compact_state, run_stream

    from lieu_spark.session import attach_session

    spark = attach_session("lieu_spark_stream")

    cfg = DedupeConfig(
        shingle_k=args.shingle_k,
        threshold_likely=args.threshold,
        verify_mode=args.verify_mode,
    )
    t0 = time.time()
    q = run_stream(
        spark,
        args.input,
        args.work_dir,
        cfg,
        available_now=not args.continuous,
        files_per_trigger=args.files_per_trigger,
        metrics_dir=args.metrics_dir,
    )
    if args.continuous:
        q.awaitTermination()
        return

    from lieu_spark.streaming.ingest import _path_exists

    def _count(path: str) -> int:
        # a first catch-up run over an empty landing dir processes zero
        # batches and creates neither state dir — ONLY that case maps to
        # 0; a corrupt/conflicting state dir still raises from the read
        # so monitoring sees the failure instead of a healthy-looking
        # empty summary. (Hadoop-FS existence probe, not error-message
        # string matching — works for hdfs:// and s3:// work dirs.)
        if not _path_exists(spark, path):
            return 0
        return spark.read.parquet(path).count()

    compacted = None
    if args.compact:
        compacted = compact_state(spark, args.work_dir, cfg=cfg)

    summary = {
        "wall_sec": round(time.time() - t0, 2),
        "compacted": compacted,
        "index_size": _count(os.path.join(args.work_dir, "index")),
        "pairs": _count(os.path.join(args.work_dir, "pairs")),
        "config_fingerprint": cfg.fingerprint(),
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()

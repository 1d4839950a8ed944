"""Seeded benchmark inputs, written as parquet without starting Spark.

Every row comes from ``lieu_spark.corpus.conv_rows(seed, i)``, the pure
function ``corpus.generate_df`` maps over ``spark.range``, so the files
hold exactly the rows ``generate_df(spark, seed, n)`` would produce.
Inputs are cached per (workload, seed) under the caller's cache root and
are built before any timed region starts.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from lieu_spark import corpus, oracle
from lieu_spark.config import DedupeConfig
from lieu_spark.operators.assemble import TURN_SEP

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        # UTC-adjusted, so Spark reads it back as TIMESTAMP, not TIMESTAMP_NTZ
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

# dedupe-mixed: conversations in the batch corpus
MIXED_CONVS = 2000
# stream-append: conversations per arrival file, and arrival files
STREAM_FILE_CONVS = 200
STREAM_FILES = 2
# refresh snapshot 2: share of conversations each CDC edit kind touches
CDC_SHARE = 0.01


def _table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[] for _ in SCHEMA]
    return pa.table([list(c) for c in cols], schema=SCHEMA)


def _conv_tuples(seed: int, i: int) -> list[tuple]:
    return [
        (r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts)
        for r in corpus.conv_rows(seed, i)
    ]


def should_pairs(seed: int, n_convs: int, cfg: DedupeConfig) -> list[list[str]]:
    """Planted pairs a correct run must classify as duplicates: true
    family Jaccard >= threshold_likely, or byte-identical documents.
    Computed with the brute-force oracle, which shares no code with the
    Spark path."""
    out = []
    for a, b, _kind in corpus.truth_pairs(seed, n_convs):
        ia, ib = int(a[1:]), int(b[1:])
        doc_a = TURN_SEP.join(t[1] for t in corpus.conv_turns(seed, ia))
        doc_b = TURN_SEP.join(t[1] for t in corpus.conv_turns(seed, ib))
        if doc_a == doc_b or oracle.family_jaccard(doc_a, doc_b, cfg) >= cfg.threshold_likely:
            out.append([a, b])
    return out


def _cdc_snapshot(seed: int, n_convs: int) -> list[tuple]:
    """Snapshot 2: a conv-atomic CDC edit of snapshot 1 with ~CDC_SHARE
    each of removed, changed (first turn extended), renamed and added
    (an edited copy under a new id) conversations."""
    rng = np.random.default_rng([seed, 2])
    kinds = rng.choice(
        ["removed", "changed", "renamed", "added", "kept"],
        size=n_convs,
        p=[CDC_SHARE] * 4 + [1 - 4 * CDC_SHARE],
    )
    rows = []
    for i in range(n_convs):
        turns = _conv_tuples(seed, i)
        kind = kinds[i]
        if kind == "removed":
            continue
        if kind == "renamed":
            turns = [("r-" + t[0],) + t[1:] for t in turns]
        if kind == "changed":
            turns = [
                t[:3] + (t[3] + " refreshed suffix qq",) + t[4:] if t[1] == 0 else t
                for t in turns
            ]
        rows.extend(turns)
        if kind == "added":
            rows.extend(
                ("n-" + t[0],) + t[1:3] + (t[3] + " novel zz yy",) + t[4:]
                for t in turns
            )
    return rows


def prepare(cache_root: str, workload: str, seed: int) -> str:
    """Build (or reuse) the inputs of one (workload, seed); returns the
    directory holding them and their ``inputs.json`` description. The
    cache key carries the input sizes, so inputs built under other sizes
    are never reused."""
    sizes = {
        "dedupe-mixed": f"{MIXED_CONVS}",
        "stream-append": f"{STREAM_FILES}x{STREAM_FILE_CONVS}",
    }
    if workload not in sizes:
        raise ValueError(f"unknown workload {workload!r}")
    out = os.path.join(cache_root, f"{workload}-{sizes[workload]}-{seed}")
    meta_path = os.path.join(out, "inputs.json")
    if os.path.exists(meta_path):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cfg = DedupeConfig()
    if workload == "dedupe-mixed":
        n = MIXED_CONVS
        rows = [r for i in range(n) for r in _conv_tuples(seed, i)]
        pq.write_table(_table(rows), os.path.join(out, "transcripts.parquet"))
        pq.write_table(
            _table(_cdc_snapshot(seed, n)), os.path.join(out, "snapshot2.parquet")
        )
        files = 1
    else:
        n = STREAM_FILE_CONVS * STREAM_FILES
        order = np.random.default_rng([seed, 1]).permutation(n)
        arrivals = os.path.join(out, "arrivals")
        os.makedirs(arrivals)
        rows = []
        for f in range(STREAM_FILES):
            ids = order[f * STREAM_FILE_CONVS : (f + 1) * STREAM_FILE_CONVS]
            file_rows = [r for i in sorted(ids) for r in _conv_tuples(seed, int(i))]
            path = os.path.join(arrivals, f"part-{f:03d}.parquet")
            pq.write_table(_table(file_rows), path)
            # the file source orders arrivals by modification time
            os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))
            rows.extend(file_rows)
        files = STREAM_FILES
    meta = {
        "workload": workload,
        "seed": seed,
        "convs": n,
        "turns": len(rows),
        "files": files,
        "should_pairs": should_pairs(seed, n, cfg),
    }
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, meta_path)
    return out

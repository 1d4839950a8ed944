"""Formatted plans of (a) run_pipeline's candidates frame and (b) the
stream's second-batch candidate frame (captured at the verify_pairs call).

Inputs: lieu_spark.corpus seed 42, 60 conversations, default
DedupeConfig, local[4]. The pipeline gets all 60; the stream gets them as
two arrival files of 30 (conversation index < 30, then >= 30),
files_per_trigger=1, so batch 1 is the second micro-batch. The work dir
is redacted to <work_dir>.

    PYTHONPATH=<checkout> python plans/pr4/capture.py plans/pr4 after
"""

import os
import sys
import tempfile

from pyspark.sql import functions as F

import lieu_spark.streaming.ingest as ing
from lieu_spark import corpus
from lieu_spark.config import DedupeConfig
from lieu_spark.pipeline import run_pipeline
from lieu_spark.session import build_session

out, suffix = sys.argv[1], sys.argv[2]
os.makedirs(out, exist_ok=True)
spark = build_session(cores=4)
CFG = DedupeConfig()


def formatted(df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


rows = corpus.generate_rows(42, 60)
tdf = spark.createDataFrame(
    [(r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts) for r in rows],
    corpus.TRANSCRIPT_SCHEMA,
)
res = run_pipeline(spark, tdf, CFG, with_spans=False)
with open(f"{out}/pipeline_candidates_{suffix}.txt", "w") as fh:
    fh.write(formatted(res.candidates))

tmp = tempfile.mkdtemp()
plans = []
verify_pairs = ing.verify_pairs


def spy(cand, feats, cfg, method):
    plans.append(formatted(cand))
    return verify_pairs(cand, feats, cfg, method=method)


ing.verify_pairs = spy
idx = F.regexp_extract("conv_id", r"(\d+)$", 1).cast("int")
for part in (idx < 30, idx >= 30):
    tdf.filter(part).coalesce(1).write.mode("append").parquet(f"{tmp}/in")
ing.run_stream(
    spark, f"{tmp}/in", f"{tmp}/work", CFG, available_now=True, files_per_trigger=1
)
with open(f"{out}/stream_candidates_{suffix}.txt", "w") as fh:
    fh.write(plans[1].replace(f"file:{tmp}/work", "<work_dir>").replace(f"{tmp}/work", "<work_dir>"))

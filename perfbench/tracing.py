"""Per-layer tracing from outside the engine.

A layer is a contiguous wall-clock window opened and closed by the
benchmark around its calls into the engine's public functions. Each
window runs under its own Spark job group; at the end of the run the
stage metrics Spark's status store kept are summed per window. Stages
are assigned to windows by submission time, not by job group, because
jobs the engine submits from its own worker threads (the streaming
foreachBatch callback, the fold thread pools) do not inherit the
group. Windows are recorded in memory and read out once, after the
timed region.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from lieu_spark.checkpoint import StageStore

# run_pipeline's stage order, and the layer each stage belongs to
PIPELINE_STAGES = [
    ("conversations", "assemble"),
    ("features", "features"),
    ("bands", "lsh"),
    ("band_stats", "lsh"),
    ("candidates", "candidates"),
    ("verified", "verify"),
    ("clusters", "cluster"),
    ("spans", "spans"),
]
# after the last stage the job commits its outputs from the stage store
COMMIT_LAYER = "checkpoint"
PIPELINE_LAYERS = ["assemble", "features", "lsh", "candidates", "verify",
                   "cluster", "spans", COMMIT_LAYER]

COMMON = ["wall_s", "cpu_s", "shuffle_write_mb", "spill_mb", "jobs", "tasks",
          "failed_tasks", "rows_out"]

MB = 1024 * 1024


class LayerTrace:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.windows: list[list] = []  # [layer, start, end]
        self.hook_s = 0.0  # time spent inside the tracing hooks themselves

    def switch(self, layer: str) -> None:
        """Close the open window (if any) and open ``layer``'s window;
        a no-op when ``layer`` is already open."""
        t = time.time()
        if self.windows and self.windows[-1][2] is None:
            if self.windows[-1][0] == layer:
                return
            self.windows[-1][2] = t
        self.windows.append([layer, t, None])
        self.sc.setJobGroup(f"perfbench:{layer}", layer)
        self.hook_s += time.time() - t

    def stop(self) -> None:
        t = time.time()
        if self.windows and self.windows[-1][2] is None:
            self.windows[-1][2] = t
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.hook_s += time.time() - t

    def layer_metrics(self) -> dict[str, dict[str, float]]:
        """The common metric set per layer, summed over its windows."""
        out = {
            w[0]: {k: 0.0 for k in COMMON + ["input_mb"]} for w in self.windows
        }
        for layer, start, end in self.windows:
            out[layer]["wall_s"] += end - start
        gw = self.sc._gateway
        store = self.sc._jsc.sc().statusStore()

        def window_of(opt_date) -> str | None:
            if opt_date.isEmpty():
                return None
            t = opt_date.get().getTime() / 1000.0
            for layer, start, end in self.windows:
                if start <= t < end:
                    return layer
            return None

        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            layer = window_of(jobs.apply(i).submissionTime())
            if layer:
                out[layer]["jobs"] += 1
        stages = store.stageList(
            gw.jvm.java.util.ArrayList(), False, False,
            gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList(),
        )
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.status().toString() == "SKIPPED":
                continue
            layer = window_of(s.submissionTime())
            if not layer:
                continue
            m = out[layer]
            m["cpu_s"] += s.executorCpuTime() / 1e9
            m["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            m["spill_mb"] += s.diskBytesSpilled() / MB
            m["tasks"] += s.numTasks()
            m["failed_tasks"] += s.numFailedTasks()
            m["rows_out"] += s.outputRecords()
            m["input_mb"] += s.inputBytes() / MB
        return out


@dataclass
class TracedStore(StageStore):
    """A StageStore that marks a layer boundary at the end of each save:
    the next window starts where this stage's table is committed, so
    work a stage does before its save (the connected-components driver
    loop) falls in that stage's window."""

    trace: LayerTrace | None = field(default=None, repr=False)

    def save(self, spark, stage, df, fingerprint):
        out = super().save(spark, stage, df, fingerprint)
        i = [s for s, _ in PIPELINE_STAGES].index(stage)
        nxt = PIPELINE_STAGES[i + 1][1] if i + 1 < len(PIPELINE_STAGES) else COMMIT_LAYER
        self.trace.switch(nxt)
        return out


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / MB

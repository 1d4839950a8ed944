#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload dedupe-mixed --seed 1 --seconds 45 --trace 0

Run from the repository root. A run is one fresh Spark driver process
(``job.py`` under ``spark-submit --py-files``, the shape of the
``jobs/`` entry points) at ``local[<nproc>]``, so no run reuses
another's warmed JIT. Inside it the timed region repeats for about
``--seconds`` (``job.iterations``: ``--seconds`` over the workload's
nominal iteration length; two on dedupe-mixed, a cold pass and a warm
one, and one two-file drain on stream-append at the benchmark's
45 s), each iteration on fresh stage-store or stream directories with
the session cache cleared, and each checked on its own outputs. ``attempted`` counts iterations, ``failed`` those
that raised or failed a check; ``failed``/``attempted`` is the run's
fail ratio. ``turns_per_s`` is the input turns of the passing
iterations over their summed timed regions, the cold first one
included; ``setup_s`` and ``peak_rss_mb`` are taken once per run (the
JVM's ``VmHWM`` after the first iteration). Only the median over runs
has ten or more samples beyond it, so no tail percentile is reported.

Workloads: ``dedupe-mixed`` (run_pipeline with spans on, the headline
spark-submit job) and ``stream-append`` (run_stream draining
conversation-atomic arrival files, the only path through ingest).
Their input sizes are in ``inputs.py``; which layer should move which
end-to-end metric on which workload is in ``layers.json``. The
``BENCH_r0*.json`` figures at the repository root were taken by
``bench.py`` on 32 CPUs with warm-up runs discarded and are not
comparable with this benchmark's.

``--trace 1`` runs one traced iteration instead and prints the
per-layer metrics; on dedupe-mixed it adds a traced single-thread
(``local[1]``) driver process for the ``<layer>.speedup_vs_1`` ratios,
when enough of the run's time is left for it. Layers a workload does
not run read 0.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
Inputs are generated from ``--seed`` and cached per (workload, sizes, seed)
under ``.perfbench/inputs``; everything a run writes stays under
``.perfbench``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import zipfile

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
STATE = os.path.join(ROOT, ".perfbench")
RUN_DEADLINE_S = 175  # a run must end within 180 s
BASELINE_MIN_S = 70  # time left that the traced local[1] sample needs
DRIVER_MEMORY = "2g"
WORKLOADS = ("dedupe-mixed", "stream-append")

END_TO_END = {
    "setup_s": "s",
    "turns_per_s": "turns/s",
    "dup_pair_recall": "ratio",
    "peak_rss_mb": "MB",
}


with open(os.path.join(HERE, "layers.json")) as fh:
    LAYER_SPEC = json.load(fh)
SPEEDUP_LAYERS = LAYER_SPEC["speedup_vs_1"]["layers"]


def per_layer_units() -> dict[str, str]:
    """Per-layer metric names and units, as layers.json lists them."""
    spec = LAYER_SPEC
    units = {}
    for layer, lspec in spec["layers"].items():
        for name, (unit, _better) in {**spec["common"], **lspec["extra"]}.items():
            units[f"{layer}.{name}"] = unit
    for layer in SPEEDUP_LAYERS:
        units[f"{layer}.speedup_vs_1"] = spec["speedup_vs_1"]["unit"]
    for name, (unit, _better) in spec["trace"]["metrics"].items():
        units[f"trace.{name}"] = unit
    return units


def spark_submit() -> str:
    found = shutil.which("spark-submit")
    if found:
        return found
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def package(dest: str) -> str:
    """Zip the lieu_spark package for --py-files."""
    path = os.path.join(dest, "lieu_spark.zip")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for base, dirs, files in os.walk(os.path.join(ROOT, "lieu_spark")):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(base, f)
                    zf.write(full, os.path.relpath(full, ROOT))
    return path


def stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the sample's process group (the JVM, the
    Python driver and its UDF workers) and wait until it is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def sample(workload: str, inputs: str, pyfiles: str, cores: int,
           trace: int, baseline: int, seconds: float, deadline: float) -> dict:
    os.makedirs(os.path.join(STATE, "work"), exist_ok=True)
    work = tempfile.mkdtemp(dir=os.path.join(STATE, "work"))
    try:
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        out = os.path.join(work, "result.json")
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"),
                   TMPDIR=tmp)
        confs = {
            "spark.ui.enabled": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }
        if trace:
            # keep every job and stage in the status store for tracing.py
            confs["spark.ui.retainedJobs"] = "100000"
            confs["spark.ui.retainedStages"] = "100000"
        cmd = [spark_submit(), "--master", f"local[{cores}]",
               "--driver-memory", DRIVER_MEMORY, "--py-files", pyfiles]
        for k, v in confs.items():
            cmd += ["--conf", f"{k}={v}"]
        cmd += [os.path.join(HERE, "job.py"), "--workload", workload,
                "--inputs", inputs, "--work", work, "--trace", str(trace),
                "--baseline", str(baseline), "--seconds", repr(seconds),
                "--out", out]
        log_path = os.path.join(work, "driver.log")
        with open(log_path, "w") as log:
            cmd += ["--launched", repr(time.time())]
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    env=env, cwd=ROOT, start_new_session=True)
            try:
                proc.wait(timeout=max(deadline - time.time(), 1))
            except subprocess.TimeoutExpired:
                pass
            finally:
                stop_group(proc)
        if os.path.exists(out):
            with open(out) as fh:
                res = json.load(fh)
        else:
            with open(log_path) as fh:
                tail = fh.read()[-4000:]
            res = {"iterations": [], "error": f"exit {proc.returncode}\n{tail}"}
        bad = [i["checks"] for i in res["iterations"] if not i["ok"]]
        if res["error"] or bad:
            print(f"sample failed: checks={bad}\n{res['error']}", file=sys.stderr)
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def end_to_end(res: dict, ok: list[dict]) -> dict[str, float]:
    return {
        "setup_s": res["setup_s"],
        "turns_per_s": sum(i["turns"] for i in ok) / sum(i["timed_s"] for i in ok),
        "dup_pair_recall": statistics.median(i["recall"] for i in ok),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def layer_values(traced: dict, single: dict | None) -> dict[str, float]:
    values = {name: 0.0 for name in per_layer_units()}
    layers = traced["layers"]
    for layer, metrics in layers.items():
        for name in LAYER_SPEC["common"]:
            values[f"{layer}.{name}"] = metrics[name]
    for layer, metrics in traced["extra"].items():
        for name, v in metrics.items():
            if f"{layer}.{name}" in values:
                values[f"{layer}.{name}"] = v
    values["session.start_s"] = traced["start_s"]
    values["session.warmup_s"] = traced["warmup_s"]
    if "ingest" in layers:
        batches = traced["extra"]["ingest"]["batches"]
        values["ingest.jobs_per_batch"] = layers["ingest"]["jobs"] / batches
    else:
        # every table read after assembly is a stage-store table
        values["checkpoint.read_mb"] = sum(
            layers[l]["input_mb"] for l in SPEEDUP_LAYERS[1:] if l in layers
        )
    if single is not None:
        for layer in SPEEDUP_LAYERS:
            values[f"{layer}.speedup_vs_1"] = (
                single["layers"][layer]["wall_s"] / layers[layer]["wall_s"]
            )
    values["trace.hook_s"] = traced["hook_s"]
    it = traced["iterations"][0]
    values["trace.turns_per_s"] = it["turns"] / it["timed_s"]
    return values


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    deadline = time.time() + RUN_DEADLINE_S

    if not os.path.isfile(os.path.join(ROOT, "lieu_spark", "__init__.py")):
        print("run from the repository root: lieu_spark/ not found", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import inputs

    os.makedirs(STATE, exist_ok=True)
    in_dir = inputs.prepare(os.path.join(STATE, "inputs"), args.workload, args.seed)
    pkg_dir = tempfile.mkdtemp(dir=STATE)
    try:
        pyfiles = package(pkg_dir)
        run = lambda cores=os.cpu_count(), baseline=0: sample(  # noqa: E731
            args.workload, in_dir, pyfiles, cores, args.trace, baseline,
            args.seconds, deadline,
        )
        res = run()
        single = None
        # the local[1] sample takes about 60 s on a 4-core machine;
        # skip it (speedups read 0) when it could not end in time
        if args.trace and args.workload == "dedupe-mixed":
            if deadline - time.time() > BASELINE_MIN_S:
                single = run(1, baseline=1)
            else:
                print("local[1] sample skipped: too little time left", file=sys.stderr)
    finally:
        shutil.rmtree(pkg_dir, ignore_errors=True)

    samples = [r for r in (res, single) if r is not None]
    iters = [i for r in samples for i in r["iterations"]]
    attempted = len(iters) + sum(not r["iterations"] for r in samples)
    failed = attempted - sum(i["ok"] for i in iters)
    ok = [i for i in res["iterations"] if i["ok"]]
    print(f"setup {res.get('setup_s', 0):.2f} s; timed iterations (s): "
          + " ".join(f"{i['timed_s']:.2f}" for i in res["iterations"]), file=sys.stderr)
    if not ok:
        print("no iteration passed its checks; no metrics to report", file=sys.stderr)
        return 1
    if args.trace:
        units = per_layer_units()
        single_ok = single is not None and any(i["ok"] for i in single["iterations"])
        values = layer_values(res, single if single_ok else None)
    else:
        units = END_TO_END
        values = end_to_end(res, ok)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

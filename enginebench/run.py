#!/usr/bin/env python3
"""Engine benchmark entry point.

    python3 enginebench/run.py --workload staged_long --seed 1 --seconds 20 --trace 0

Builds the engine and the harness (see build.py), runs one workload at one
seed in one JVM on a local[nproc] Spark session, prints every metric with
its unit, and prints as its last line one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics
(and writes the span file under .bench_out/enginebench/spans).
Exits 1 when a correctness gate fails, 2 when the run cannot be made.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
SPANS = ROOT / ".bench_out" / "enginebench" / "spans"
WORKLOADS = ("staged_long", "incr_stream")

END_TO_END = {
    "setup_s": "s",
    "files_per_s": "docs/s",
    "batch_p50_s": "s",
    "resume_s": "s",
    "recall": "ratio",
    "precision": "ratio",
    "peak_rss_mb": "MB",
    "store_bytes_per_input_byte": "ratio",
}

IO_STAGES = ("t1", "t1_distinct", "signatures", "bands", "candidate_pairs",
             "verified_pairs", "clusters", "cluster_stats")

PER_LAYER = dict(
    [("ingest.wall_s", "s"), ("ingest.shuffle_mb", "MB"), ("ingest.rep_ratio", "ratio"),
     ("kernel.wall_s", "s"), ("kernel.cpu_s", "s"), ("kernel.tokens_per_cpu_s", "tokens/s"),
     ("lsh.bands.wall_s", "s"), ("lsh.band_rows", "count"), ("lsh.pairs.wall_s", "s"),
     ("lsh.pairs.shuffle_mb", "MB"), ("lsh.pairs.spill_mb", "MB"), ("lsh.pairs.jobs", "count"),
     ("lsh.pairs.candidates", "count"), ("lsh.pairs.task_skew", "ratio"),
     ("lsh.stop_bands", "count"), ("lsh.hot_groups", "count"),
     ("suffix.wall_s", "s"), ("suffix.cpu_s", "s"), ("suffix.shuffle_mb", "MB"),
     ("suffix.spill_mb", "MB"), ("suffix.gram_tasks", "count"), ("suffix.pairs", "count"),
     ("verify.wall_s", "s"), ("verify.shuffle_mb", "MB"), ("verify.in", "count"),
     ("verify.out", "count"), ("verify.yield", "ratio"),
     ("cc.wall_s", "s"), ("cc.jobs", "count"), ("cc.edges", "count"), ("cc.clusters", "count")]
    + [(f"io.stage.{s}.wall_s", "s") for s in IO_STAGES]
    + [("io.written_mb", "MB"), ("io.resume.jobs", "count"),
       ("streaming.batch.jobs", "count"), ("streaming.batch.shuffle_mb", "MB"),
       ("streaming.batch.cpu_util", "ratio"), ("streaming.compact_s", "s"),
       ("streaming.clusters_s", "s"), ("streaming.state_mb", "MB"),
       ("session.jobs", "count"), ("session.tasks", "count"), ("session.cpu_s", "s"),
       ("session.cpu_util", "ratio"), ("session.gc_s", "s"), ("session.shuffle_mb", "MB"),
       ("session.spill_mb", "MB"), ("session.sched_delay_s", "s"),
       ("trace.coverage_wall", "ratio"), ("trace.coverage_cpu", "ratio"),
       ("trace.files_per_s", "docs/s"), ("trace.overhead_ratio", "ratio")])

RESULT_TAG = "ENGINEBENCH_RESULT "
# A run must end within 180 s; the first run in a checkout also builds.
RUN_LIMIT_S = 175.0
FIRST_RUN_LIMIT_S = 880.0

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def expected_metrics(trace: bool) -> dict:
    return PER_LAYER if trace else END_TO_END


def result_line(raw: dict, trace: bool) -> dict:
    """The driver-facing result: exactly the declared metrics of the mode,
    each a finite number with its unit. A missing or non-finite metric
    makes the run incorrect."""
    metrics = {}
    correct = bool(raw.get("correct"))
    got = raw.get("metrics", {})
    for name, unit in expected_metrics(trace).items():
        v = got.get(name, {}).get("value")
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            correct = False
            v = 0.0
        metrics[name] = {"value": float(v), "unit": unit}
    attempted = int(raw.get("attempted", 0))
    return {"correct": correct and attempted >= 1, "attempted": max(attempted, 1),
            "failed": int(raw.get("failed", 0)) if attempted >= 1 else 1, "metrics": metrics}


def format_metric(name: str, value: float, unit: str) -> str:
    return f"{name} = {value!r} {unit}"


def jvm_command(classes: Path, args, out: Path) -> list:
    jars = build.spark_jars()
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # fixed heap, young generation and marking threshold: a growing heap, an
    # eden that G1 sizes across most of the heap, or an old generation left
    # to fill with garbage before marking would make VmHWM (peak_rss_mb)
    # follow GC sizing; with all three fixed it follows what the old
    # generation and the off-heap buffers hold, i.e. what the engine retains
    return (["java", "-Xms2g", "-Xmx2g", "-Xmn256m", "-XX:InitiatingHeapOccupancyPercent=25",
             "-XX:-G1UseAdaptiveIHOP", "-Xss4m"] + opens +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", f"{classes}{os.pathsep}{jars}/*", "enginebench.Main",
             args.workload, str(args.seed), str(args.seconds), str(args.trace), str(out)])


def run_jvm(cmd: list, limit_s: float):
    """Runs the harness JVM in its own process group, echoing its stdout;
    returns (exit code, result payload or None). Kills the group on timeout
    and waits for it either way."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    payload = None
    deadline = time.monotonic() + limit_s
    try:
        import selectors
        sel = selectors.DefaultSelector()
        sel.register(proc.stdout, selectors.EVENT_READ)
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                raise TimeoutError
            if not sel.select(timeout=min(left, 1.0)):
                continue
            line = proc.stdout.readline()
            if not line:
                break
            if line.startswith(RESULT_TAG):
                payload = json.loads(line[len(RESULT_TAG):])
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except (TimeoutError, subprocess.TimeoutExpired):
        print(f"[enginebench] run exceeded {limit_s:.0f} s; stopping it", file=sys.stderr)
        payload = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    return proc.returncode, payload


def _stop(signum, _frame):
    # SystemExit unwinds run_jvm's finally, which stops the JVM's group
    sys.exit(128 + signum)


def main(argv=None) -> int:
    signal.signal(signal.SIGTERM, _stop)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t0 = time.monotonic()
    fresh = not (build.CLASSES / ".stamp").exists()
    try:
        classes = build.build()
        cmd = jvm_command(classes, args, Path())
    except build.BuildError as e:
        print(f"[enginebench] cannot run: {e}", file=sys.stderr)
        return 2
    out = build.BUILD / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    (out / "tmp").mkdir()
    cmd[-1] = str(out)
    # keep every temp file (snappy natives, hadoop tmp) inside the run dir
    cmd.insert(1, f"-Djava.io.tmpdir={out / 'tmp'}")
    limit = (FIRST_RUN_LIMIT_S if fresh else RUN_LIMIT_S) - (time.monotonic() - t0)
    try:
        code, payload = run_jvm(cmd, limit)
        spans = out / "spans"
        if spans.is_dir():
            SPANS.mkdir(parents=True, exist_ok=True)
            for f in spans.iterdir():
                shutil.copy(f, SPANS / f.name)
                print(f"[enginebench] span file: {(SPANS / f.name).relative_to(ROOT)}")
    finally:
        shutil.rmtree(out, ignore_errors=True)
    if payload is None:
        print(f"[enginebench] harness ended (exit {code}) without a result", file=sys.stderr)
        return 2
    res = result_line(payload, bool(args.trace))
    if code != 0:
        res["correct"] = False
    for name, m in res["metrics"].items():
        print(format_metric(name, m["value"], m["unit"]))
    failed_frac = res["failed"] / res["attempted"]
    print(f"failed_frac = {failed_frac!r} ratio ({res['failed']}/{res['attempted']} operations)")
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

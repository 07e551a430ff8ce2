"""Benchmark of the concordance KG job and the curation cascade.

    python3 perfbench/run.py --workload kg_link --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, one Spark session at
``local[nproc]``, one job at a time (a closed loop with one client):

1. set-up: start the session, build and materialise the workload's input
   from ``--seed``, run the job once untimed as warm-up (``setup_s``);
2. timed loop: run the job until ``--seconds`` have passed and at least
   MIN_JOBS jobs ran; ``job_s`` is the median job wall time;
3. or, with ``--trace 1``: one untimed job, one job with per-layer spans
   (see tracing.py), one more untimed job and, for the KG workload, one
   cold job at ``local[1]`` in a child process; per-layer metrics are
   printed instead of end-to-end ones.

Every job's output, the warm-up's too, is checked after its timing stops.
A job that raises or fails a check counts as failed; it is timed until it
raises.
The last line of stdout is one JSON object: correct, attempted, failed and
metrics. The line before it records the run environment. A traced run also
writes its spans to ``.perfbench_out/``. Everything else the run writes
goes to a work directory under ``.perfbench_work/``, removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import harness  # noqa: E402

MIN_JOBS = 2
# a run must end within 180 s; leave room for stopping and cleanup
RUN_LIMIT_S = 165


class Tally:
    """Jobs attempted and failed, with every failure's messages."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def add(self, errors: list[str]) -> None:
        self.attempted += 1
        self.failed += bool(errors)
        self.errors += errors


def run_jobs(spark, wl, work: str, tally: Tally, seconds: float = 0, min_jobs: int = 1,
             rss: harness.RssSampler | None = None) -> list[float]:
    """Closed loop: job, check, repeat until ``seconds`` have passed and at
    least ``min_jobs`` jobs ran. Returns the wall time of each job. ``rss``
    takes no samples while a job's output is checked."""
    times: list[float] = []
    start = time.perf_counter()
    for n in itertools.count(1):
        out = os.path.join(work, "out", f"job{tally.attempted}")
        t0 = time.perf_counter()
        try:
            try:
                result = wl.job(spark, out)
            finally:
                times.append(time.perf_counter() - t0)
            with rss.paused() if rss else contextlib.nullcontext():
                errors = wl.check(spark, out, result)
        except Exception:
            errors = [traceback.format_exc()]
        shutil.rmtree(out, ignore_errors=True)
        tally.add(errors)
        if n >= min_jobs and time.perf_counter() - start >= seconds:
            return times


def _value(v: float, unit: str) -> dict:
    return {"value": v, "unit": unit}


def timed(spark, wl, work: str, args, tally: Tally, setup: dict) -> tuple[dict, list[float]]:
    """End-to-end metrics. Jobs keep getting faster for several runs after
    the warm-up (the JIT is not done), so a fixed minimum job count, not the
    machine's speed, decides where on that curve the median is taken."""
    with harness.RssSampler() as rss:
        times = run_jobs(spark, wl, work, tally, args.seconds, MIN_JOBS, rss)
    job_s = statistics.median(times)
    return {
        "setup_s": _value(sum(setup.values()), "s"),
        "job_s": _value(job_s, "s"),
        "docs_per_s": _value(wl.docs / job_s, "docs/s"),
        "peak_rss_mb": _value(rss.peak / 2**20, "MB"),
    }, times


def traced(spark, wl, work: str, args, tally: Tally, setup: dict, env: dict, started: float):
    """Per-layer metrics from one traced job. Its overhead is taken against
    the untraced jobs just before and just after it, since jobs still speed
    up from one to the next."""
    import tracing
    import workloads

    before = run_jobs(spark, wl, work, tally)
    trace = tracing.traced_run(spark, wl, work, harness.cpu_count())
    tally.add(trace["errors"])
    after = run_jobs(spark, wl, work, tally)
    m = trace["metrics"]
    m["trace.overhead_s"] = m["trace.job_s"] - (before[-1] + after[0]) / 2
    harness.stop_spark(spark)
    if isinstance(wl, workloads.KgWorkload):
        m["baseline.local1_job_s"] = _local1(wl, work, args.seed, started)
    path = tracing.write_trace(
        ROOT, wl.name, args.seed, {"env": env, "setup": setup, "untraced_job_s": before + after, **trace}
    )
    print(json.dumps({"trace_file": os.path.relpath(path, ROOT)}))
    metrics = {name: _value(m.get(name, 0), unit) for name, unit in tracing.PER_LAYER_UNITS.items()}
    return metrics, before + after


def _local1(wl, work: str, seed: int, started: float) -> float:
    """Wall time of one cold KG job at local[1] over the same input, the
    single-thread baseline, in a child process (a JVM keeps the master it
    started with). If it would take the whole run past RUN_LIMIT_S, the
    child is killed and the baseline reported as 0."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl.name, "--seed", str(seed),
           "--local1-baseline", wl.src, "--work", os.path.join(work, "local1")]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, RUN_LIMIT_S - (time.monotonic() - started)))
    except subprocess.TimeoutExpired:
        harness.kill_tree(proc)
        print(f"local[1] baseline killed at the {RUN_LIMIT_S} s run limit; reported as 0", file=sys.stderr)
        return 0.0
    if proc.returncode:
        raise subprocess.CalledProcessError(proc.returncode, cmd, out)
    return json.loads(out.strip().splitlines()[-1])["job_s"]


def local1_baseline(args) -> int:
    """Child process: one KG job at local[1] over the parent's materialised
    input; prints its wall time."""
    import workloads

    wl = workloads.make(args.workload)
    wl.src = args.local1_baseline
    harness.configure_paths(args.work)
    spark = harness.start_spark(args.work, 1)
    try:
        t0 = time.perf_counter()
        manifest = wl.job(spark, os.path.join(args.work, "out"))
        job_s = time.perf_counter() - t0
    finally:
        harness.stop_spark(spark)
    if not manifest["gtg"]["ok"]:
        raise RuntimeError(f"local[1] run not GTG-ok: {manifest['gtg']}")
    print(json.dumps({"job_s": job_s}))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--local1-baseline", help=argparse.SUPPRESS)
    p.add_argument("--work", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if args.local1_baseline:
        return local1_baseline(args)

    import workloads

    started = time.monotonic()
    wl = workloads.make(args.workload)
    load1 = os.getloadavg()[0]
    cores = harness.cpu_count()
    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-{os.getpid()}")
    harness.configure_paths(work)
    tally = Tally()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = harness.start_spark(work, cores)
        session_s = time.perf_counter() - t0
        env = harness.environment(spark, cores, load1)

        t0 = time.perf_counter()
        wl.setup(spark, work, args.seed)
        input_s = time.perf_counter() - t0

        (warmup_s,) = run_jobs(spark, wl, work, tally)
        setup = {"session_s": session_s, "input_s": input_s, "warmup_s": warmup_s}

        if args.trace:
            metrics, times = traced(spark, wl, work, args, tally, setup, env, started)
        else:
            metrics, times = timed(spark, wl, work, args, tally, setup)
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only once no other run uses it
            os.rmdir(os.path.dirname(work))

    for e in tally.errors:
        print(e, file=sys.stderr)
    print(json.dumps({"env": env, "workload": wl.name, "docs": wl.docs, "seed": args.seed,
                      "setup": setup, "job_s_all": times}))
    print(json.dumps({"correct": not tally.errors, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Product-path benchmark: ``run_extract_job`` on a seeded synthetic crawl.

    python3 perfbench/run.py --workload mix --seed 1 --seconds 15 --trace 0

Run from the checkout root. One run stages the workload's input (cached
by seed), starts one Spark session at ``local[cores]`` and warms the JVM
up with one untimed job (see ``warm_up``). It then calls
``run_extract_job`` on a fresh output directory until ``--seconds`` have
passed and at least ``--min-jobs`` (default 3) jobs have run. Every
output, the warm-up job's too, is gated for correctness outside the
timed call.

``--trace 0`` prints the end-to-end metrics (medians over the run's
timed jobs; ``setup_s`` is this process's own set-up).
``--trace 1`` first runs a ``--trace 0`` run that times one job
(``--seconds 0 --min-jobs 1``) in a child process for the untraced
sample, then repeats the same warm-up and one timed job in a session
with Spark's event log on, runs the ``extract`` ladder and the kernel
probe, and prints the per-layer metrics with a layer table. Timing one
job in each session keeps the traced run's two sessions within the time
limit of one run.

The last stdout line is one JSON object: ``correct``, ``attempted``
(docs), ``failed`` (gate violations) and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import env  # noqa: E402

MIN_JOBS = 3  # timed jobs per run at least, so one slow job is not the median
CHILD_TIMEOUT_S = 120


def _args(argv):
    from perfbench.inputs import WORKLOADS

    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--min-jobs", type=int, default=MIN_JOBS)
    return ap.parse_args(argv)


@dataclass
class JobRun:
    t0: float  # epoch seconds at the call
    wall: float
    docs_out: int
    lineage: list[tuple[int, float, float]]  # (bucket, started, finished)
    out_bytes: int


class Input:
    """One workload's staged input and its answer key."""

    def __init__(self, workload, seed: int):
        from perfbench import inputs

        self.w = workload
        entry = inputs.ensure_input(env.CACHE, workload, seed)
        self.dir = inputs.input_dir(entry)
        self.expected = inputs.read_expected(entry)


@dataclass
class Tally:
    """Gate results of every job of a run."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    status_counts: dict[str, list[dict]] = field(default_factory=dict)

    def check_repeats(self) -> None:
        """Jobs on one input must produce the same per-status counts."""
        for name, counts in self.status_counts.items():
            if any(c != counts[0] for c in counts):
                self.failed += 1
                self.problems.append(f"{name}: status counts differ {counts}")

    def result(self, metrics: dict[str, tuple[float, str]]) -> dict:
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
            },
        }


def job(spark, inp: Input, tally: Tally) -> JobRun:
    """One gated ``run_extract_job`` call on a fresh output directory,
    which stays until the next call."""
    from perfbench.gate import check_output
    from pbx_ds_ocr_server_spark.sources.writer import run_extract_job

    out = job_dir()
    shutil.rmtree(out, ignore_errors=True)
    src = spark.read.parquet(inp.dir)
    t_epoch, t = time.time(), time.perf_counter()
    res = run_extract_job(spark, src, out, n_buckets=inp.w.n_buckets)
    wall = time.perf_counter() - t
    g = check_output(out, inp.expected, inp.w.n_buckets)
    tally.attempted += g.attempted
    tally.failed += g.failed
    tally.problems += [f"{inp.w.name}: {p}" for p in g.problems]
    tally.status_counts.setdefault(inp.w.name, []).append(g.status_counts)
    return JobRun(
        t_epoch, wall, res.docs_out, _lineage_rows(out), _out_bytes(out)
    )


def job_dir() -> str:
    return os.path.join(env.RUNS, "job")


def _lineage_rows(out: str) -> list[tuple[int, float, float]]:
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(out, "_lineage"),
        columns=["bucket", "started_at", "finished_at"],
    ).to_pydict()
    return list(zip(t["bucket"], t["started_at"], t["finished_at"]))


def _out_bytes(out: str) -> int:
    data = os.path.join(out, "data")
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(data)
        for f in files
        if f.endswith(".parquet")
    )


def warm_up(spark, inp: Input, tally: Tally) -> float:
    """One untimed job on ``inp``; returns its wall.

    The first job in a JVM pays class loading and JIT compilation and
    takes about twice as long as the next. README.md gives the walls."""
    return job(spark, inp, tally).wall


def timed_jobs(
    spark, inp: Input, seconds: float, min_jobs: int, tally: Tally
) -> list[JobRun]:
    """Jobs on ``inp`` until ``seconds`` have passed and at least
    ``min_jobs`` (and one) have run."""
    jobs: list[JobRun] = []
    t = time.perf_counter()
    while len(jobs) < max(1, min_jobs) or time.perf_counter() - t < seconds:
        jobs.append(job(spark, inp, tally))
    return jobs


def _summary(warm_wall, jobs, setup_s, tally) -> None:
    print(
        f"warm_up_wall={warm_wall:.3f}"
        f" job_walls={[round(j.wall, 3) for j in jobs]}"
        f" setup_s={setup_s:.3f}"
        f" statuses={ {k: v[-1] for k, v in tally.status_counts.items()} }"
    )


def untraced(args, inp: Input, tally: Tally) -> dict:
    spark, start_s, spawn_s = env.start_session()
    try:
        warm_wall = warm_up(spark, inp, tally)
        jobs = timed_jobs(spark, inp, args.seconds, args.min_jobs, tally)
        rss = env.worker_peak_rss_mb(spark)
    finally:
        env.stop_session(spark)
    _summary(warm_wall, jobs, start_s + spawn_s, tally)
    med = statistics.median
    return {
        "job_wall_s": (med(j.wall for j in jobs), "s"),
        "docs_per_s": (med(j.docs_out / j.wall for j in jobs), "1/s"),
        "setup_s": (start_s + spawn_s, "s"),
        "worker_peak_rss_mb": (rss, "MB"),
    }


def _untraced_child(args, tally: Tally) -> float:
    """A ``--trace 0`` run timing one job in a fresh process; returns
    its ``job_wall_s`` and adds its gate results to ``tally``."""
    done = subprocess.run(
        [sys.executable, os.path.abspath(__file__),
         "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", "0", "--min-jobs", "1", "--trace", "0"],
        capture_output=True,
        text=True,
        timeout=CHILD_TIMEOUT_S,
        check=True,
    )
    lines = done.stdout.strip().splitlines()
    for line in lines[:-1]:
        print(f"untraced: {line}")
    res = json.loads(lines[-1])
    tally.attempted += res["attempted"]
    tally.failed += res["failed"]
    if not res["correct"]:
        tally.problems.append("untraced run failed the gate")
    return res["metrics"]["job_wall_s"]["value"]


@contextmanager
def record_marks(spans: list):
    """Span every ``CheckpointManifest.mark`` call as (bucket, start, end)."""
    from pbx_ds_ocr_server_spark.sources.writer import CheckpointManifest

    orig = CheckpointManifest.mark

    def mark(self, bucket, n_buckets, run_id):
        t = time.time()
        try:
            return orig(self, bucket, n_buckets, run_id)
        finally:
            spans.append((bucket, t, time.time()))

    CheckpointManifest.mark = mark
    try:
        yield spans
    finally:
        CheckpointManifest.mark = orig


def traced(args, inp: Input, tally: Tally) -> dict:
    from perfbench import eventlog, probes
    from pbx_ds_ocr_server_spark.operators import extract as ex

    statuses = (
        ex.ST_OK, ex.ST_EMPTY, ex.ST_PARTIAL, ex.ST_NOOP, ex.ST_FAILED,
        ex.ST_REJ_SIZE, ex.ST_REJ_PAGES, ex.ST_REJ_UNPARSEABLE,
    )
    # before this process touches env.RUNS, which the child removes
    untraced_wall = _untraced_child(args, tally)
    m: dict[str, tuple[float, str]] = {}
    log_dir = os.path.join(env.RUNS, "eventlog")
    spark, start_s, spawn_s = env.start_session(event_log_dir=log_dir)
    m["session.start_s"] = (start_s, "s")
    m["session.worker_spawn_s"] = (spawn_s, "s")
    marks: list = []
    try:
        with record_marks(marks):
            warm_wall = warm_up(spark, inp, tally)
            jobs = timed_jobs(spark, inp, 0, 1, tally)
        ladder = probes.extract_ladder(
            spark, os.path.join(job_dir(), "staging"),
            os.path.join(env.RUNS, "ladder"),
        )
    finally:
        env.stop_session(spark)
    _summary(warm_wall, jobs, start_s + spawn_s, tally)
    last = jobs[-1]
    t0, t1 = last.t0, last.t0 + last.wall
    lineage = last.lineage
    log = eventlog.read_event_log(log_dir)
    timeline = eventlog.writer_timeline(
        log, t0, t1, lineage, [k for k in marks if t0 <= k[1] <= t1]
    )
    for layer, spans in timeline.items():
        m[f"writer.{layer}_s"] = (eventlog.union_s(spans), "s")
    covered = eventlog.union_s([s for v in timeline.values() for s in v])
    m["writer.coverage"] = (covered / last.wall, "ratio")
    bucket_walls = [f - s for _, s, f in lineage]
    m["writer.bucket_wall_p50_s"] = (statistics.median(bucket_walls), "s")
    m["writer.bucket_wall_max_s"] = (max(bucket_walls), "s")
    bucket_phase = (min(s for _, s, _ in lineage), max(f for _, _, f in lineage))
    m.update(eventlog.job_metrics(log, t0, t1, env.cores(), bucket_phase))
    m["writer.out_bytes"] = (last.out_bytes, "bytes")
    traced_wall = statistics.median(j.wall for j in jobs)
    m["trace.job_wall_s"] = (traced_wall, "s")
    m["trace.untraced_job_wall_s"] = (untraced_wall, "s")
    m["trace.overhead_s"] = (traced_wall - untraced_wall, "s")
    m.update(ladder)
    m.update(probes.kernel_timings(inp.dir))
    counts = tally.status_counts[inp.w.name][-1]
    for status in statuses:
        m[f"output.status.{status}"] = (counts.get(status, 0), "count")
    unknown = set(counts) - set(statuses)
    if unknown:
        tally.failed += 1
        tally.problems.append(f"unlisted output statuses {sorted(unknown)}")
    tally.check_repeats()
    m["output.docs_failed_ratio"] = (tally.failed / tally.attempted, "ratio")
    _print_layers(m, last.wall)
    return m


def _print_layers(m: dict, wall: float) -> None:
    print(f"{'metric':34} {'value':>14} unit   share of the last traced job")
    for k, (v, u) in m.items():
        share = (
            f"{v / wall:6.1%}"
            if k.startswith("writer.") and k.endswith("_s") else ""
        )
        print(f"{k:34} {v:14.4f} {u:6} {share}")


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(env.ROOT, "pbx_ds_ocr_server_spark")):
        print(
            "error: pbx_ds_ocr_server_spark/ not found next to perfbench/;"
            " run from a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    env.prepare_process()
    args = _args(argv)
    from perfbench import inputs

    inp = Input(inputs.WORKLOADS[args.workload], args.seed)
    tally = Tally()
    try:
        if args.trace:
            metrics = traced(args, inp, tally)
        else:
            metrics = untraced(args, inp, tally)
            tally.check_repeats()
    finally:
        shutil.rmtree(env.RUNS, ignore_errors=True)
    ratio = tally.failed / tally.attempted
    print(f"docs_failed_ratio={ratio} ({tally.failed}/{tally.attempted})")
    for p in tally.problems:
        print(f"GATE: {p}")
    print(json.dumps(tally.result(metrics)))
    return 0


if __name__ == "__main__":
    sys.exit(main())

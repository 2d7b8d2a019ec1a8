"""Where the benchmark keeps its files, and how it starts Spark.

Everything a run writes (input cache, job outputs, Spark scratch, event
logs, temp files) goes under ``.perfbench/`` at the checkout root.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(WORK, "cache")
RUNS = os.path.join(WORK, "runs")
TMP = os.path.join(WORK, "tmp")
STOP_TIMEOUT_S = 60


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_process() -> None:
    """Point temp files, Spark scratch and the Python workers' import path
    at the checkout. Call before the first Spark session starts."""
    for d in (CACHE, RUNS, TMP):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def session_conf(event_log_dir: str | None = None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # JVM temp files and perf data stay out of /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={TMP}"
        " -XX:-UsePerfData",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                # Spark 4 compresses with zstd by default; the Python
                # standard library has no zstd reader
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def identity_batches(batches):
    """Identity ``mapInPandas`` function: Arrow to Python and back."""
    yield from batches


def start_session(event_log_dir: str | None = None):
    """``get_spark`` at ``local[cores]`` plus the Python-worker spawn.

    Returns ``(spark, start_s, spawn_s)``: the ``get_spark`` call, then a
    one-row-per-core ``mapInPandas`` job, after which a job can start
    with its workers already forked."""
    from pbx_ds_ocr_server_spark.session import get_spark

    n = cores()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=max(8, n),
        extra_conf=session_conf(event_log_dir),
    )
    t1 = time.perf_counter()
    spark.range(n, numPartitions=n).mapInPandas(
        identity_batches, "id long"
    ).collect()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_session(spark) -> None:
    """Stop ``spark`` and its JVM, and wait until the JVM and every
    process under it (the Python worker daemon and its workers) has
    exited, so no process of a run outlives it."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    children = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    # the JVM exits when its stdin closes
    proc.stdin.close()
    proc.wait(timeout=STOP_TIMEOUT_S)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while any(_alive(pid) for pid in children):
        if time.monotonic() > deadline:
            raise TimeoutError(f"Spark processes still running: {children}")
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # process ended while scanning
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, []):
            out.append(c)
            todo.append(c)
    return out


def _status_field(pid: int, key: str) -> str | None:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        return None
    return None


def worker_peak_rss_mb(spark) -> float:
    """Largest ``VmHWM`` among the Python processes under the Spark JVM
    (the worker daemon and its forked workers), in MiB."""
    jvm_pid = spark.sparkContext._gateway.proc.pid
    peak_kb = 0
    for pid in _descendants(jvm_pid):
        if not (_status_field(pid, "Name") or "").startswith("python"):
            continue
        hwm = _status_field(pid, "VmHWM")
        if hwm:
            peak_kb = max(peak_kb, int(hwm.split()[0]))
    return peak_kb / 1024

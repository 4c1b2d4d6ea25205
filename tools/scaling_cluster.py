"""N vs 4N executors on the production job: the unchanged
``jobs/run_pipeline.py`` under ``spark-submit --master local-cluster[E,1,M]
--py-files tripsu_spark.zip`` at E = 1 and 4, runs interleaved with
alternating order. Job span and task time come from Spark's event log;
every run's per-bucket checksums must equal a local-mode
``GraphTableWriter.run`` over the same input and ``BENCH_SECRET``.

    python tools/scaling_cluster.py <sf>/events.parquet  # -> BENCH_SCALING_cluster_<sf>.json
"""

import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from tripsu_spark.crypto import Pseudonymizer  # noqa: E402
from tripsu_spark.plans.lineage import GraphTableWriter  # noqa: E402
from tripsu_spark.plans.oracle import BENCH_SECRET  # noqa: E402
from tripsu_spark.plans.pipeline import default_rules  # noqa: E402
from tripsu_spark.session import get_spark  # noqa: E402
from tripsu_spark.sources.transcripts import transcripts_from_events  # noqa: E402

EXECUTORS = (1, 4)
EXECUTOR_MB = 2048
BUCKETS = 16
RUNS = 3


def spark_home(work: Path) -> Path:
    """The installed SPARK_HOME, linked entry by entry, but with its own
    ``work``: local-cluster executors write their dirs there."""
    real = Path(os.environ.get("SPARK_HOME") or Path(shutil.which("spark-submit")).parents[1])
    home = work / "spark-home"
    (home / "work").mkdir(parents=True, exist_ok=True)
    for entry in real.iterdir():
        if not (home / entry.name).exists():
            (home / entry.name).symlink_to(entry)
    return home


def package(work: Path) -> Path:
    """tripsu_spark zipped for --py-files."""
    return Path(shutil.make_archive(str(work / "tripsu_spark"), "zip", ROOT, "tripsu_spark"))


def submit(work: Path, args: list[str], timeout: float = 600) -> tuple[str, float]:
    """(stdout, wall) of one spark-submit, run in its own process group,
    killed at the end so no executor JVM outlives it. Without PYTHONPATH,
    executors import only what --py-files ships."""
    home = spark_home(work)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_HOME=str(home), PYSPARK_PYTHON=sys.executable)
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        [str(home / "bin" / "spark-submit"), *args], env=env, text=True,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, start_new_session=True,
    )
    try:
        out, err = proc.communicate(timeout=timeout)
    finally:
        with contextlib.suppress(ProcessLookupError):
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"spark-submit exited {proc.returncode}:\n{err[-4000:]}")
    return out, time.perf_counter() - t0


def read_event_log(lines) -> dict:
    """Job span and total task time, in seconds, of one event log."""
    starts, ends, task_ms = [], [], 0
    for event in map(json.loads, lines):
        kind = event["Event"]
        if kind == "SparkListenerJobStart":
            starts.append(event["Submission Time"])
        elif kind == "SparkListenerJobEnd":
            ends.append(event["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            task_ms += event["Task Info"]["Finish Time"] - event["Task Info"]["Launch Time"]
    return {"job_s": (max(ends) - min(starts)) / 1000, "task_s": task_ms / 1000}


def summarize(runs: list[dict]) -> dict:
    """Medians and throughput (rows per job-span second) per executor
    count; efficiency = (thr_4N / thr_N) / 4."""
    points = {}
    for e in sorted({r["executors"] for r in runs}):
        mine = [r for r in runs if r["executors"] == e]
        point = {k: statistics.median(r[k] for r in mine) for k in ("job_s", "wall_s", "task_s")}
        points[e] = {"runs": len(mine), **point, "rows_per_s": mine[0]["rows"] / point["job_s"]}
    n, n4 = min(points), max(points)
    scale = points[n4]["rows_per_s"] / points[n]["rows_per_s"]
    return {"points": points, "efficiency": scale / (n4 / n)}


def run_job(work: Path, zipped: Path, transcripts: Path, executors: int, tag: str) -> dict:
    logs = work / "eventlog" / tag
    logs.mkdir(parents=True)
    stdout, wall = submit(work, [
        "--master", f"local-cluster[{executors},1,{EXECUTOR_MB}]",
        "--conf", "spark.eventLog.enabled=true", "--conf", f"spark.eventLog.dir={logs}",
        "--conf", "spark.eventLog.compress=false",
        "--py-files", str(zipped), str(ROOT / "jobs" / "run_pipeline.py"),
        "--input", str(transcripts), "--output", str(work / "graph" / tag),
        "--secret-file", str(work / "secret.bin"), "--buckets", str(BUCKETS),
    ])
    metrics = json.loads(stdout.splitlines()[-1])
    # Spark 4 rolls event logs: eventlog_v2_<app>/events_<n>_<app>
    log = read_event_log(line for f in logs.rglob("events_*") for line in f.read_text().splitlines())
    return {
        "executors": executors, "wall_s": round(wall, 3), **log, "rows": metrics["total_rows"],
        "checksums": {b: m["checksum"] for b, m in metrics["buckets"].items()},
    }


def measure(work: Path, events: str) -> dict:
    (work / "secret.bin").write_bytes(BENCH_SECRET)
    transcripts = work / "transcripts"
    spark = get_spark(master="local[4]", shuffle_partitions=8)
    transcripts_from_events(spark.read.parquet(events)).write.parquet(str(transcripts))
    local = GraphTableWriter(str(work / "graph-local"), n_buckets=BUCKETS).run(
        spark, spark.read.parquet(str(transcripts)), default_rules(),
        Pseudonymizer.create("sha256", BENCH_SECRET),
    )
    spark.stop()
    want = {b: m["checksum"] for b, m in local["buckets"].items()}

    zipped, runs = package(work), []
    for i in range(RUNS):
        for e in EXECUTORS if i % 2 == 0 else EXECUTORS[::-1]:
            runs.append(run_job(work, zipped, transcripts, e, f"r{i}-e{e}"))
            print(json.dumps({k: v for k, v in runs[-1].items() if k != "checksums"}), flush=True)
    differ = sum(r["checksums"] != want for r in runs)
    if differ:
        raise SystemExit(f"{differ} of {len(runs)} runs differ from the local-mode checksums")
    config = {"master": f"local-cluster[E,1,{EXECUTOR_MB}]", "buckets": BUCKETS, "input": events,
              "secret": "tripsu_spark.plans.oracle.BENCH_SECRET", "cpus": os.cpu_count()}
    return {"config": config, "runs": runs, **summarize(runs)}


def main() -> None:
    if len(sys.argv) != 2:
        raise SystemExit(__doc__)
    events = sys.argv[1]
    with tempfile.TemporaryDirectory(prefix="scaling-cluster-") as tmp:
        result = measure(Path(tmp), events)
    out = ROOT / f"BENCH_SCALING_cluster_{Path(events).resolve().parent.name}.json"
    out.write_text(json.dumps(result, indent=1) + "\n")
    print(json.dumps({k: result[k] for k in ("points", "efficiency")}))


if __name__ == "__main__":
    main()

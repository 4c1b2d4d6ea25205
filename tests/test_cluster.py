"""The spark-submit paths, through tools/scaling_cluster.py's launcher:
the launcher's settings win over the session defaults, and
jobs/run_pipeline.py with --py-files on a local-cluster master commits
what an in-process run commits. The launcher's event-log arithmetic is
checked without Spark."""

import importlib.util
import json
from pathlib import Path

import pytest

from tripsu_spark.crypto import Pseudonymizer
from tripsu_spark.plans.lineage import GraphTableWriter
from tripsu_spark.plans.oracle import BENCH_SECRET
from tripsu_spark.plans.pipeline import default_rules
from tripsu_spark.sources.transcripts import synthetic_transcripts

ROOT = Path(__file__).resolve().parent.parent
spec = importlib.util.spec_from_file_location(
    "scaling_cluster", ROOT / "tools" / "scaling_cluster.py"
)
scaling_cluster = importlib.util.module_from_spec(spec)
spec.loader.exec_module(scaling_cluster)


def test_event_log_span_task_time_and_efficiency():
    """The span runs from the first job start to the last job end, over
    overlapping jobs and the gap between them; task time sums tasks."""
    events = [
        {"Event": "SparkListenerApplicationStart", "Timestamp": 0},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1_500},
        {"Event": "SparkListenerTaskEnd", "Task Info": {"Launch Time": 1_100, "Finish Time": 2_100}},
        {"Event": "SparkListenerTaskEnd", "Task Info": {"Launch Time": 1_600, "Finish Time": 4_100}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4_200},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 5_000},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 6_000},
        {"Event": "SparkListenerTaskEnd", "Task Info": {"Launch Time": 6_000, "Finish Time": 6_500}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 7_000},
        {"Event": "SparkListenerApplicationEnd", "Timestamp": 9_000},
    ]
    assert scaling_cluster.read_event_log(map(json.dumps, events)) == {"job_s": 6.0, "task_s": 4.0}

    runs = [
        {"executors": 1, "job_s": s, "wall_s": s + 2, "task_s": s - 1, "rows": 1_000}
        for s in (10.0, 12.0, 11.0)
    ] + [
        {"executors": 4, "job_s": s, "wall_s": s + 3, "task_s": 4 * s, "rows": 1_000}
        for s in (5.0, 4.0, 6.0)
    ]
    summary = scaling_cluster.summarize(runs)
    one, four = summary["points"][1], summary["points"][4]
    assert (one["runs"], one["job_s"], one["wall_s"], one["task_s"]) == (3, 11.0, 13.0, 10.0)
    assert (four["job_s"], four["wall_s"], four["task_s"]) == (5.0, 8.0, 20.0)
    assert one["rows_per_s"] == pytest.approx(1_000 / 11)
    assert four["rows_per_s"] == 200.0
    # (200 / 90.9) / 4
    assert summary["efficiency"] == pytest.approx(0.55)


PROBE = """
import json, sys
sys.path.insert(0, {root!r})
from tripsu_spark.session import get_submit_spark
spark = get_submit_spark("conf-probe")
print(json.dumps({{k: spark.conf.get(k) for k in {keys!r}}}))
spark.stop()
"""


def test_submit_conf_beats_session_defaults(tmp_path):
    """A key the launcher sets keeps the launcher's value; a key it
    leaves alone, static keys included, gets the session default."""
    keys = [
        "spark.sql.shuffle.partitions", "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.session.timeZone", "spark.python.sql.dataFrameDebugging.enabled",
    ]
    script = tmp_path / "probe.py"
    script.write_text(PROBE.format(root=str(ROOT), keys=keys))
    out, _ = scaling_cluster.submit(tmp_path, [
        "--master", "local[1]", "--conf", "spark.sql.shuffle.partitions=7",
        "--conf", "spark.sql.autoBroadcastJoinThreshold=1m", str(script),
    ], timeout=300)
    got = json.loads(out.splitlines()[-1])
    assert got["spark.sql.shuffle.partitions"] == "7"
    assert got["spark.sql.autoBroadcastJoinThreshold"] in ("1m", str(1024 * 1024))
    assert got["spark.sql.session.timeZone"] == "UTC"
    assert got["spark.python.sql.dataFrameDebugging.enabled"] == "false"


def test_py_files_on_local_cluster_matches_in_process_run(spark, tmp_path):
    """run_pipeline.py on two executor JVMs, importing tripsu_spark only
    from the --py-files zip (blake3 hashes in a Python UDF on the
    executors), commits the per-bucket checksums of an in-process run."""
    transcripts = str(tmp_path / "transcripts")
    synthetic_transcripts(spark, n_convs=24, turns_per_conv=4).write.parquet(transcripts)
    (tmp_path / "secret.bin").write_bytes(BENCH_SECRET)
    local = GraphTableWriter(str(tmp_path / "local"), n_buckets=4).run(
        spark, spark.read.parquet(transcripts), default_rules(),
        Pseudonymizer.create("blake3", BENCH_SECRET),
    )
    out, _ = scaling_cluster.submit(tmp_path, [
        "--master", "local-cluster[2,1,1024]",
        "--py-files", str(scaling_cluster.package(tmp_path)),
        str(ROOT / "jobs" / "run_pipeline.py"),
        "--input", transcripts, "--output", str(tmp_path / "cluster"),
        "--secret-file", str(tmp_path / "secret.bin"), "--buckets", "4", "--algorithm", "blake3",
    ], timeout=300)
    cluster = json.loads(out.splitlines()[-1])
    assert cluster["total_rows"] == local["total_rows"] > 0
    assert cluster["buckets"] == local["buckets"]

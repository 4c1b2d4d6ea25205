"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The end-to-end tests launch the benchmark command itself (about a
minute each on a 4-core box).
"""

from __future__ import annotations

import filecmp
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import check, gen  # noqa: E402
from perfbench import run as bench_run  # noqa: E402

FILES = ("events.parquet", "triples.nt", "documents.parquet", "embeddings.parquet",
         "params.json")


def _benchmark() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_generator_is_deterministic_per_seed(tmp_path):
    a, b, c = (gen.generate(s, str(tmp_path / n)) for s, n in ((5, "a"), (5, "b"), (6, "c")))
    assert a == b and a["realised"] != c["realised"]
    for f in FILES:
        assert filecmp.cmp(tmp_path / "a" / f, tmp_path / "b" / f, shallow=False), f
        assert not filecmp.cmp(tmp_path / "a" / f, tmp_path / "c" / f, shallow=False), f
    assert a["realised"]["planted_dup_docs"] > 0 and a["realised"]["planted_dup_vectors"] > 0


def test_generator_parts_are_independent(tmp_path):
    gen.generate(9, str(tmp_path / "all"))
    gen.generate(9, str(tmp_path / "docs"), ("documents",))
    assert filecmp.cmp(tmp_path / "all" / "documents.parquet",
                       tmp_path / "docs" / "documents.parquet", shallow=False)
    assert not (tmp_path / "docs" / "events.parquet").exists()


def test_digest_is_order_insensitive_and_catches_one_altered_line():
    lines = [f"<s{i}> <p> \"o{i}\" ." for i in range(100)]
    assert check.digest(lines) == check.digest(reversed(lines))
    altered = list(lines)
    altered[37] = altered[37].replace("o37", "o37x")
    assert check.digest(altered) != check.digest(lines)
    assert check.digest(lines[:-1]) != check.digest(lines)


def test_digest_catches_one_duplicated_line():
    lines = [f"<s{i}> <p> \"o{i}\" ." for i in range(100)]
    doubled = check.digest(lines + [lines[5]])
    assert doubled["rows"] == 101 and doubled["hash"] != check.digest(lines)["hash"]


def test_cluster_rows_union_find():
    rows = check.cluster_rows(range(6), [(4, 1), (1, 2), (5, 3)])
    assert sorted(rows) == ["0,0", "1,1", "2,1", "3,3", "4,1", "5,3"]


def test_oracle_lines_match_rendered_input_shape(tmp_path):
    gen.generate(3, str(tmp_path), ("events",))
    exp = check.expected_lines(str(tmp_path / "events.parquet"))
    assert exp["rows"] > 10_000 and len(exp["hash"]) == 16


def test_declared_metrics_match_the_code():
    from perfbench import layers

    bench = _benchmark()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == bench_run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.UNITS
    assert bench["paths"] == ["perfbench"]


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "11",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
def test_one_command_prints_every_declared_metric(trace, key):
    proc = _run(ROOT, "build", trace)
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    declared = {m["name"]: m["unit"] for m in _benchmark()[key]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    if key == "end_to_end":
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        # the spans of the traced iteration cover at least 90% of it
        coverage = next(float(x.split("=")[1]) for x in lines if x.startswith("trace_coverage="))
        assert coverage >= 0.9


def _tamper(graph: Path, how: str) -> None:
    """Alter, or duplicate, the first row of one committed data file of
    a graph table."""
    part = next(p for p in sorted(graph.rglob("part-*.parquet"))
                if pq.ParquetFile(p).metadata.num_rows)
    table = pq.read_table(part)
    if how == "altered":
        s_value = table.column("s_value").to_pylist()
        s_value[0] += "x"
        table = table.set_column(table.schema.get_field_index("s_value"), "s_value",
                                 pa.array(s_value, table.schema.field("s_value").type))
    else:
        table = pa.concat_tables([table, table.slice(0, 1)])
    pq.write_table(table, part)


def test_run_with_one_altered_or_duplicated_output_row_counts_as_failed(tmp_path):
    """Drive the real build job through the runner, then alter or
    duplicate one committed row after the job and before the check."""
    bench_run.launcher_env(tmp_path / "work")
    from perfbench import workloads

    inp = tmp_path / "in"
    wl = workloads.WORKLOADS["build"]
    gen.generate(4, str(inp), wl.inputs)
    expected = wl.expected(str(inp))

    def tampering(how):
        def job(spark, inp_dir, out_dir, tracer):
            res = workloads.build_job(spark, inp_dir, out_dir, tracer)
            _tamper(Path(res.extra["graph"]), how)
            return res
        return workloads.Workload("build", wl.inputs, job, wl.check, wl.ladder, wl.expected)

    spark, _ = bench_run.start_session()
    try:
        good = bench_run.Runner(spark, wl, inp, tmp_path / "good", expected)
        assert good.iteration("ok") is not None and good.failed == 0
        for how in ("altered", "duplicated"):
            bad = bench_run.Runner(spark, tampering(how), inp, tmp_path / how, expected)
            assert bad.iteration(how) is None, how
            assert (bad.attempted, bad.failed) == (1, 1)
    finally:
        bench_run.stop_jvm(spark)


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark's
    files, the command exits non-zero and prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = _run(tmp_path, "build", 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout

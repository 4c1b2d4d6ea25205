"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload build|curate --seed N \
        --seconds S --trace 0|1

Closed loop, one client, one job in flight, on ``local[nproc]`` with
the session users get (``get_submit_spark``: ``DEFAULTS`` minus the
launcher-owned keys; master and driver memory come from the launcher
arguments set here). Steps:

1. generate the seeded inputs (cached per seed under perfbench/.work);
2. compute the expected outputs with the DuckDB oracle (cached too);
3. launch the JVM with a first session, then set the session up again
   ``SETUP_REPS`` times in that JVM, timing each set-up;
4. run one untimed warm-up iteration over smaller inputs of the same
   seed (``gen.WARM_UP``): the JVM's first job pays for class loading,
   code generation and Python worker start-up whatever its size, which
   at these sizes would outweigh the program's own work;
5. ``--trace 0``: run timed iterations until ``--seconds`` have passed,
   at least ``MIN_SAMPLES``, and print the end-to-end metrics (``job_s``
   is their median, so one iteration slowed by the host does not move
   it). ``--trace 1``: run one traced iteration between
   two untraced reference iterations, then the prefix ladder, and
   print the per-layer metrics (see perfbench/README.md).

Every iteration's output, the warm-up's included, is checked against
the oracle.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / "perfbench" / ".work"
SETUP_REPS = 3
MIN_SAMPLES = 3
DRIVER_MEMORY = "2g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "job_s": "s",
    "items_per_s": "1/s",
    "output_bytes_per_row": "B",
    "peak_exec_mem_mb": "MB",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def launcher_env(work: Path) -> None:
    """What ``spark-submit --master local[nproc] --driver-memory ..``
    would set, plus a PYTHONPATH that lets Python workers import
    tripsu_spark, and scratch dirs inside the checkout (no JVM perf-data
    file in /tmp either, from the driver or from spark-submit's
    launcher JVM)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--master local[{nproc()}] --driver-memory {DRIVER_MEMORY} "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )


def input_key() -> str:
    """Cache key: generator parameters plus every source that shapes
    the inputs or the expected outputs."""
    from perfbench import gen

    h = hashlib.sha1(repr(gen.Params()).encode())
    for rel in ("perfbench/gen.py", "perfbench/check.py", "tripsu_spark/plans/oracle.py",
                "tripsu_spark/operators/dedup.py", "tripsu_spark/operators/similarity.py"):
        h.update((ROOT / rel).read_bytes())
    return h.hexdigest()[:10]


def start_session():
    """One set-up: session with the user conf, plus a first action (the
    first set-up of a process also launches the JVM)."""
    from tripsu_spark.session import get_submit_spark

    t0 = time.perf_counter()
    spark = get_submit_spark("perfbench")
    spark.range(1000).selectExpr("sum(id)").collect()
    dt = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, dt


def stop_jvm(spark) -> None:
    """Stop the session, then the py4j gateway JVM, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    def __init__(self, spark, wl, inp: Path, run_dir: Path, expected: dict):
        self.spark, self.wl, self.inp, self.run_dir = spark, wl, inp, run_dir
        self.expected = expected
        self.attempted = self.failed = 0

    def iteration(self, tag: str, tracer=None, inp: Path | None = None,
                  expected: dict | None = None):
        """One job + output check, over ``inp`` (default: the timed
        inputs). Returns (wall, Result) or None. An untraced iteration's
        jobs run in the job group ``iter-<tag>``."""
        from perfbench import workloads

        inp, expected = inp or self.inp, expected or self.expected
        out = self.run_dir / "out"
        workloads.reset(str(out))
        self.attempted += 1
        sc = self.spark.sparkContext
        if tracer is None:
            sc.setJobGroup(f"iter-{tag}", f"iter-{tag}")
        try:
            t0 = time.perf_counter()
            res = self.wl.job(self.spark, str(inp), str(out), tracer or workloads.NoTrace())
            wall = time.perf_counter() - t0
            res.ok = self.wl.check(self.spark, res, expected)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        if not res.ok:
            print(f"output check failed on iteration {tag}", file=sys.stderr)
            self.failed += 1
            return None
        return wall, res

    def timed(self, seconds: float) -> list[tuple[float, object]]:
        """Iterations (job groups ``iter-timed-<i>``) until ``seconds``
        have passed and at least ``MIN_SAMPLES`` ran; stops at the first
        failure."""
        samples = []
        t0 = time.perf_counter()
        while len(samples) < MIN_SAMPLES or time.perf_counter() - t0 < seconds:
            got = self.iteration(f"timed-{len(samples)}")
            if got is None:
                break
            samples.append(got)
        return samples


def end_to_end(setups: list[float], samples, peak_mb: float) -> dict:
    job_s = statistics.median(w for w, _ in samples)
    res = samples[-1][1]
    return {
        "setup_s": statistics.median(setups),
        "job_s": job_s,
        "items_per_s": res.items / job_s,
        "output_bytes_per_row": res.out_bytes / max(res.rows, 1),
        "peak_exec_mem_mb": peak_mb,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="tripsu_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (ROOT / "tripsu_spark" / "__init__.py").is_file():
        print(f"program not found: no tripsu_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import check, gen, layers, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    phases, t_phase = {}, time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = round(now - t_phase, 2)
        t_phase = now

    key = input_key()
    inp = WORK / "inputs" / f"{args.workload}-{args.seed}-{key}"
    warm_inp = inp.with_name(inp.name + "-warm-up")
    for path, params in ((inp, gen.Params()), (warm_inp, gen.WARM_UP)):
        if not (path / "params.json").exists():
            gen.generate(args.seed, str(path), wl.inputs, params)
    expected, warm_expected = (
        check.cached(str(p / "expected.json"), lambda p=p: wl.expected(str(p)))
        for p in (inp, warm_inp)
    )
    run_dir = WORK / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    run_dir.mkdir(parents=True, exist_ok=True)
    phase("inputs")

    launcher_env(WORK)
    spark, launch_s = start_session()
    setups = []
    for _ in range(SETUP_REPS):
        spark.stop()
        spark, dt = start_session()
        setups.append(dt)
    phase("setup")
    metrics, samples = {}, []
    try:
        from perfbench.trace import StatusStore

        runner = Runner(spark, wl, inp, run_dir, expected)
        warm = runner.iteration("warm-up", inp=warm_inp, expected=warm_expected)
        phase("warm-up")
        if warm is not None and args.trace:
            metrics = layers.traced(runner, args.workload, run_dir)
            phase("trace")
        elif warm is not None:
            samples = runner.timed(args.seconds)
            phase("timed")
            if samples:
                store = StatusStore(spark)
                store.drain()
                jobs = [j for i in range(len(samples)) for j in store.job_ids(f"iter-timed-{i}")]
                peak_mb = store.stage_totals(store.stage_ids(jobs)).peak_exec_mb
                metrics = end_to_end(setups, samples, peak_mb)
        print(f"workload={args.workload} seed={args.seed} nproc={nproc()} "
              f"warm_up_s={round(warm[0], 3) if warm else None} "
              f"job_s={[round(w, 3) for w, _ in samples]} launch_s={round(launch_s, 3)} "
              f"setup_s={[round(s, 3) for s in setups]}")
    finally:
        stop_jvm(spark)
        for sub in ("out", "ladder"):
            shutil.rmtree(run_dir / sub, ignore_errors=True)
    phase("stop")
    print(f"phases_s={phases}")
    units = layers.UNITS if args.trace else END_TO_END_UNITS
    print(json.dumps({
        "correct": runner.failed == 0 and bool(metrics),
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Outside-in tracing: spans around calls into the program, and
per-span numbers read back from Spark's own status stores.

A span sets a Spark job group for the duration of the call, so every
job the call triggers is attributed to it. After the traced work the
listener bus is drained and, per span, the app status store
(``stageData``) gives busy executor time, shuffle, spill, failed tasks
and task-time skew, and the SQL status store gives the output rows of
each scan node (to count how often an input was read). Spans live in
memory until ``Tracer.dump`` writes them as one file.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from pyspark.sql import SparkSession

MB = 1024.0 * 1024.0


@dataclass
class Span:
    name: str
    layer: str
    group: str
    start: float
    end: float = 0.0
    parent: str | None = None
    trace_id: str = ""

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class StageTotals:
    task_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    failed_tasks: int = 0
    peak_exec_mb: float = 0.0
    skew: float = 1.0


class StatusStore:
    """Read-only view of the JVM status stores of one session."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self._jvm = self.sc._jvm
        self._app = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        """Wait until every posted listener event is in the stores."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_ids(self, job_ids: list[int]) -> set[int]:
        out: set[int] = set()
        for j in job_ids:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is not None:
                out.update(info.stageIds)
        return out

    def _stage_data(self, stage_id: int):
        quantiles = self.sc._gateway.new_array(self._jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        seq = self._app.stageData(
            stage_id, False, self._jvm.java.util.ArrayList(), True, quantiles
        )
        return [seq.apply(i) for i in range(seq.size())]

    def stage_totals(self, stage_ids: set[int]) -> StageTotals:
        t = StageTotals()
        biggest = -1.0
        for sid in sorted(stage_ids):
            for sd in self._stage_data(sid):
                if str(sd.status()) == "SKIPPED":
                    continue
                run_ms = float(sd.executorRunTime())
                t.task_s += run_ms / 1000.0
                t.shuffle_mb += sd.shuffleWriteBytes() / MB
                t.spill_mb += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
                t.failed_tasks += int(sd.numFailedTasks())
                t.peak_exec_mb = max(t.peak_exec_mb, sd.peakExecutionMemory() / MB)
                dist = sd.taskMetricsDistributions()
                if run_ms > biggest and dist.isDefined():
                    times = dist.get().executorRunTime()
                    med, mx = float(times.apply(0)), float(times.apply(1))
                    t.skew = mx / med if med > 0 else 1.0
                    biggest = run_ms
        return t

    def executions_for_jobs(self, job_ids: set[int]) -> list[int]:
        """SQL execution ids whose jobs include any of ``job_ids``."""
        out = []
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            keys = e.jobs().keys().toSeq()
            ids = {int(keys.apply(k)) for k in range(keys.size())}
            if ids & job_ids:
                out.append(int(e.executionId()))
        return out

    def _nodes(self, exec_id: int, node_re: str, keep):
        pat = re.compile(node_re)
        nodes = self._sql.planGraph(exec_id).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if pat.search(node.name()) and keep(node.desc()):
                yield node

    def node_values(self, exec_ids: list[int], node_re: str, metric: str,
                    keep=lambda desc: True) -> list[float]:
        """Values of ``metric`` on plan nodes whose name matches
        ``node_re`` and whose description passes ``keep``, one per
        accumulator (a cached plan shows up in every execution that
        reads it, with the same accumulators)."""
        values: dict[int, float] = {}
        for eid in exec_ids:
            mvals = self._sql.executionMetrics(eid)
            for node in self._nodes(eid, node_re, keep):
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    if m.name() != metric:
                        continue
                    acc = int(m.accumulatorId())
                    raw = mvals.get(acc)
                    if raw.isDefined():
                        values[acc] = max(values.get(acc, 0.0), parse_metric(raw.get()))
        return list(values.values())

    def scan_rows(self, exec_ids: list[int], columns: set[str], fmt: str = "parquet") -> float:
        """Rows output by file scans that read any of ``columns`` (scan
        descriptions truncate long paths, so tables are told apart by
        their column names)."""
        def reads(desc: str) -> bool:
            m = re.search(r"FileScan \w+ \[([^\]]*)\]", desc)
            cols = {c.strip().split("#")[0] for c in m.group(1).split(",")} if m else set()
            return bool(cols & columns)

        return sum(self.node_values(exec_ids, rf"^Scan {fmt}", "number of output rows", reads))

    def count_executions(self, exec_ids: list[int], node_re: str, desc_sub: str) -> int:
        """Executions whose plan has a node matching ``node_re`` whose
        description contains ``desc_sub``."""
        return sum(
            1 for eid in exec_ids
            if any(True for _ in self._nodes(eid, node_re, lambda d: desc_sub in d))
        )


_SIZE = {"B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": MB * 1024.0}


def parse_metric(text: str) -> float:
    """Spark's rendered metric value -> number (bytes for sizes). Sum
    metrics render as ``1,234``; size and timing metrics as
    ``total (min, med, max ...)\\n12.3 MiB (...)``."""
    line = text.strip().split("\n")[-1]
    m = re.match(r"\s*([\d,.]+)\s*(B|KiB|MiB|GiB)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE.get(m.group(2) or "B", 1.0)


class Tracer:
    """Records spans (in memory) around calls made by the benchmark."""

    def __init__(self, spark: SparkSession, trace_id: str):
        self.store = StatusStore(spark)
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, layer: str, name: str | None = None):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            name=name or layer,
            layer=layer,
            group=f"{layer}#{len(self.spans)}",
            start=time.time(),
            parent=parent.group if parent else None,
            trace_id=self.trace_id,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self.store.sc.setJobGroup(sp.group, sp.name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.store.sc.setJobGroup(parent.group, parent.name)
            else:
                self.store.sc.setLocalProperty("spark.jobGroup.id", None)
                self.store.sc.setLocalProperty("spark.job.description", None)

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.group]

    def self_s(self, sp: Span) -> float:
        return max(0.0, sp.wall - sum(c.wall for c in self.children(sp)))

    def jobs(self, sp: Span) -> set[int]:
        return set(self.store.job_ids(sp.group))

    def totals(self, sp: Span) -> StageTotals:
        return self.store.stage_totals(self.store.stage_ids(list(self.jobs(sp))))

    def subtree_jobs(self, sp: Span) -> set[int]:
        out = self.jobs(sp)
        for c in self.children(sp):
            out |= self.subtree_jobs(c)
        return out

    def coverage(self, start: float, end: float) -> float:
        """Share of [start, end] covered by top-level spans."""
        covered = sum(
            max(0.0, min(s.end, end) - max(s.start, start))
            for s in self.spans
            if s.parent is None
        )
        return covered / (end - start) if end > start else 0.0

    def dump(self, path: str, extra: dict) -> None:
        """Write every span, plus ``extra``, as one JSON file."""
        record = {"trace_id": self.trace_id, "spans": [asdict(s) for s in self.spans], **extra}
        with open(path, "w") as fh:
            json.dump(record, fh, indent=1)

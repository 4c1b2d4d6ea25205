"""The two benchmark workloads: the timed job, its output check, and
the prefix ladder the traced run uses for per-layer self times (none
for ``curate``, whose two calls are independent spans already).

Each job calls the program's public functions the way its user-facing
surface does:

- ``build``:  ``jobs/run_pipeline.py`` — transcript table, then
  ``GraphTableWriter.run`` with the default rules and sha256.
- ``curate``: ``jobs/dedup_job.py --mode clusters`` at its defaults,
  then exact embedding near-dup pairs.

The N-Triples parser (``sources.ntriples``) has no workload of its own;
``build``'s ladder parses an N-Triples rendering of the same events.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from tripsu_spark.crypto import Pseudonymizer
from tripsu_spark.functions.terms import serialize_triple_line
from tripsu_spark.operators import dedup, similarity
from tripsu_spark.operators.extract import extract_triples
from tripsu_spark.operators.index import build_type_index
from tripsu_spark.operators.masking import apply_masks
from tripsu_spark.plans import lineage
from tripsu_spark.plans.lineage import GraphTableWriter, predicate_partition_col
from tripsu_spark.plans.oracle import BENCH_SECRET
from tripsu_spark.plans.pipeline import default_rules, pseudonymize
from tripsu_spark.plans.table_format import ParquetFormat
from tripsu_spark.sources.ntriples import parse_ntriples_lines
from tripsu_spark.sources.transcripts import transcripts_from_events

from perfbench import check

# Graph-table commit granularity for ``build``. run_pipeline.py defaults
# to 16, but every bucket costs a fixed 1-3 s of job overhead on a
# 4-core box whatever the input size, and one run must fit in well
# under a minute; 2 buckets still separate the first bucket from the
# rest in the manifest split.
N_BUCKETS = 2


class NoTrace:
    """Stand-in for ``trace.Tracer`` in untraced runs: spans cost nothing."""

    @contextmanager
    def span(self, layer: str, name: str | None = None):
        yield None


@dataclass
class Result:
    items: int          # triples emitted, or documents + vectors
    rows: int           # rows committed under the output directory
    out_bytes: int      # bytes committed under the output directory
    ok: bool = False    # output matched the oracle
    extra: dict = field(default_factory=dict)


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (no checksums or markers)."""
    total = 0
    for root, _, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if not f.startswith((".", "_"))
        )
    return total


def noop(df: DataFrame) -> int:
    """Run ``df`` into the noop sink; returns its row count."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    return int(obs.get["n"])


def _hasher() -> Pseudonymizer:
    return Pseudonymizer.create("sha256", BENCH_SECRET)


# ------------------------------------------------------------------ build

class TracedFormat(ParquetFormat):
    """ParquetFormat whose writes are spans (free under ``NoTrace``)."""

    def __init__(self, tracer):
        self.tracer = tracer

    def write(self, df, path, partition_by=None):
        with self.tracer.span("plans.table_format", "write"):
            super().write(df, path, partition_by)


@contextmanager
def traced_checksum(tracer):
    """Make lineage's read-back checksum a span (free under ``NoTrace``)."""
    orig = lineage.triples_checksum

    def wrapped(triples):
        with tracer.span("functions.terms", "checksum"):
            return orig(triples)

    lineage.triples_checksum = wrapped
    try:
        yield
    finally:
        lineage.triples_checksum = orig


def build_job(spark: SparkSession, inp: str, out: str, tracer) -> Result:
    tr_path, graph = os.path.join(out, "transcripts"), os.path.join(out, "graph")
    with tracer.span("sources.transcripts", "transcript table"):
        transcripts_from_events(spark.read.parquet(os.path.join(inp, "events.parquet"))) \
            .write.mode("overwrite").parquet(tr_path)
    with tracer.span("plans.lineage", "GraphTableWriter.run") as sp, traced_checksum(tracer):
        writer = GraphTableWriter(graph, n_buckets=N_BUCKETS, table_format=TracedFormat(tracer))
        metrics = writer.run(spark, spark.read.parquet(tr_path), default_rules(), _hasher())
    n = int(metrics["total_rows"])
    return Result(items=n, rows=n, out_bytes=dir_bytes(os.path.join(graph, "data")),
                  extra={"graph": graph, "transcripts": tr_path, "span": sp})


def build_check(spark: SparkSession, res: Result, expected: dict) -> bool:
    lines = GraphTableWriter(res.extra["graph"]).read(spark).select(serialize_triple_line().alias("l"))
    return res.rows == expected["rows"] and check.digest(r.l for r in lines.collect()) == expected


class Cached:
    """Ladder helper: materialize a shared prefix once so later steps
    measure only their own layer (``cache:*`` steps carry no layer)."""

    def __init__(self):
        self.frames: dict[str, DataFrame] = {}

    def step(self, name: str, make: Callable[[], DataFrame]):
        def run() -> int:
            self.frames[name] = make().persist(StorageLevel.MEMORY_AND_DISK)
            return self.frames[name].count()
        return (f"cache:{name}", None, run)

    def release(self):
        def run() -> int:
            for df in self.frames.values():
                df.unpersist()
            return 0
        return ("cache:release", None, run)

    def __getitem__(self, name: str) -> DataFrame:
        return self.frames[name]


def _pseudo(c: Cached) -> DataFrame:
    return pseudonymize(c["triples"], c["index"], default_rules(), _hasher())


def build_ladder(spark: SparkSession, inp: str, out: str) -> list:
    events = lambda: spark.read.parquet(os.path.join(inp, "events.parquet"))  # noqa: E731
    nt = lambda: parse_ntriples_lines(spark.read.text(os.path.join(inp, "triples.nt"))) \
        .filter(F.col("_error").isNull()).drop("_error")  # noqa: E731
    c = Cached()

    def write() -> int:
        path = os.path.join(out, "ladder_write")
        ParquetFormat().write(_pseudo(c).withColumn("pred_part", predicate_partition_col()),
                              path, partition_by=["pred_part"])
        return spark.read.parquet(path).count()

    return [
        ("sources.transcripts", None, lambda: noop(transcripts_from_events(events()))),
        ("operators.extract", "sources.transcripts",
         lambda: noop(extract_triples(transcripts_from_events(events())))),
        c.step("triples", lambda: extract_triples(transcripts_from_events(events()))),
        ("operators.index", None, lambda: noop(build_type_index(c["triples"]))),
        c.step("index", lambda: build_type_index(c["triples"])),
        ("operators.masking", None,
         lambda: noop(apply_masks(c["triples"], c["index"], default_rules()))),
        ("crypto", "operators.masking", lambda: noop(_pseudo(c))),
        ("functions.terms", "crypto",
         lambda: noop(_pseudo(c).select(F.xxhash64(serialize_triple_line()).alias("h")))),
        ("plans.table_format", "crypto", write),
        c.release(),
        # the timed job never parses text: warm the parser up once, then
        # measure it over the same triples rendered as N-Triples lines
        ("warm-up:sources.ntriples", None, lambda: noop(nt())),
        ("sources.ntriples", None, lambda: noop(nt())),
    ]


# ----------------------------------------------------------------- curate

def curate_job(spark: SparkSession, inp: str, out: str, tracer) -> Result:
    docs_path, vecs_path = os.path.join(inp, "documents.parquet"), os.path.join(inp, "embeddings.parquet")
    clusters, pairs = os.path.join(out, "clusters"), os.path.join(out, "pairs")
    rows = {}
    # each write is followed by the output row count, as dedup_job.py does
    with tracer.span("operators.dedup", "dedup_clusters"):
        dedup.dedup_clusters(spark.read.parquet(docs_path), dedup.NUM_HASHES_PROD,
                             dedup.BAND_SIZE_PROD, reuse_sigs=True) \
            .write.mode("overwrite").parquet(clusters)
        rows["operators.dedup"] = spark.read.parquet(clusters).count()
    with tracer.span("operators.similarity", "dedup_embedding_cosine"):
        similarity.dedup_embedding_cosine(spark.read.parquet(vecs_path)) \
            .write.mode("overwrite").parquet(pairs)
        rows["operators.similarity"] = spark.read.parquet(pairs).count()
    n_items = sum(pq.ParquetFile(p).metadata.num_rows for p in (docs_path, vecs_path))
    return Result(items=n_items, rows=sum(rows.values()),
                  out_bytes=dir_bytes(clusters) + dir_bytes(pairs),
                  extra={"clusters": clusters, "pairs": pairs, "rows": rows})


def curate_check(spark: SparkSession, res: Result, expected: dict) -> bool:
    clusters = spark.read.parquet(res.extra["clusters"]).collect()
    pairs = spark.read.parquet(res.extra["pairs"]).collect()
    got_c = check.digest(f"{r.doc_id},{r.cluster_id}" for r in clusters)
    got_p = check.digest(f"{r.a},{r.b}" for r in pairs)
    counted = {"clusters": res.extra["rows"]["operators.dedup"],
               "pairs": res.extra["rows"]["operators.similarity"]}
    return counted == {k: v["rows"] for k, v in expected.items()} and \
        {"clusters": got_c, "pairs": got_p} == expected


# ------------------------------------------------------------------ table

@dataclass(frozen=True)
class Workload:
    name: str
    inputs: tuple[str, ...]                 # generator outputs the job reads
    job: Callable
    check: Callable
    ladder: Callable | None                 # None: the job's calls are independent
    expected: Callable[[str], dict]         # input dir -> oracle digest(s)


def _expected_curate(inp: str) -> dict:
    return {
        "clusters": check.expected_clusters(os.path.join(inp, "documents.parquet"),
                                            dedup.NUM_HASHES_PROD, dedup.BAND_SIZE_PROD),
        "pairs": check.expected_vector_pairs(os.path.join(inp, "embeddings.parquet")),
    }


WORKLOADS = {
    "build": Workload("build", ("events", "ntriples"), build_job, build_check, build_ladder,
                      lambda inp: check.expected_lines(os.path.join(inp, "events.parquet"))),
    "curate": Workload("curate", ("documents", "embeddings"), curate_job, curate_check,
                       None, _expected_curate),
}


def reset(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)

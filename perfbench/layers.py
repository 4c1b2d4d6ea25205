"""Per-layer metrics of the traced run (``--trace 1``).

Three sources, all outside-in:

1. One traced iteration of the workload's job: spans around the calls
   the job makes (and, for ``build``, around ``TableFormat.write`` and
   the read-back checksum inside ``GraphTableWriter.run``). Gives the
   span coverage of the job (printed, and checked by the benchmark's
   tests), ``plans.lineage``'s own numbers, the commit-manifest split
   and the scan ratios of the production path.
2. The prefix ladder (``build``): each step runs the chain up to one
   layer into the noop sink under its own span. A layer's self numbers
   are its step minus the step it extends. The source's output
   (triples) and the index are materialized once, so the steps after
   them measure only their own layer. ``curate`` makes two
   independent calls, so its two spans give those numbers directly.
3. ``trace.overhead_frac``: the traced iteration's wall over the mean
   of two untraced reference iterations, one run right before it and
   one right after (each iteration is still a little faster than the
   one before, so a single reference would bias it).

Layers that a workload never calls report 0 for every metric.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import functions as F

from perfbench import workloads
from perfbench.trace import MB, StageTotals, Tracer

LAYERS = (
    "sources.transcripts", "sources.ntriples",
    "operators.extract", "operators.index", "operators.masking",
    "operators.dedup", "operators.similarity",
    "crypto", "functions.terms",
    "plans.table_format", "plans.lineage",
)
GENERIC = {
    "self_s": "s", "task_s": "s", "idle_frac": "ratio", "skew": "ratio",
    "shuffle_mb": "MB", "spill_mb": "MB", "rows_out": "rows", "failed_tasks": "count",
}
SPECIFIC = {
    "plans.lineage.pass1_s": "s",
    "plans.lineage.first_bucket_s": "s",
    "plans.lineage.bucket_s_p50": "s",
    "plans.lineage.derived_s": "s",
    "plans.lineage.finalize_s": "s",
    "plans.lineage.input_scan_ratio": "ratio",
    "plans.lineage.readback_ratio": "ratio",
    "operators.extract.scan_ratio": "ratio",
    "operators.masking.broadcast_mb": "MB",
    "operators.dedup.sig_ratio": "ratio",
    "operators.dedup.verify_yield": "ratio",
    "operators.dedup.cc_rounds": "count",
    "operators.similarity.pair_yield": "ratio",
    "trace.overhead_frac": "ratio",
}
UNITS = {f"{layer}.{m}": u for layer in LAYERS for m, u in GENERIC.items()} | SPECIFIC

# Columns that tell the scanned tables apart.
EVENTS = {"event_id", "user_id", "event_type", "value", "props"}
TRANSCRIPTS = {"conv_id", "turn_idx", "role", "text", "tool"}
GRAPH = {"s_kind", "s_value", "predicate", "o_kind", "o_value", "o_datatype", "o_lang"}


def layer_numbers(wall: float, t: StageTotals, rows: int, cores: int) -> dict:
    return {
        "self_s": max(wall, 0.0),
        "task_s": max(t.task_s, 0.0),
        "idle_frac": min(1.0, max(0.0, 1.0 - t.task_s / (cores * wall))) if wall > 0 else 0.0,
        "skew": t.skew,
        "shuffle_mb": max(t.shuffle_mb, 0.0),
        "spill_mb": max(t.spill_mb, 0.0),
        "rows_out": rows,
        "failed_tasks": t.failed_tasks,
    }


def run_ladder(tracer: Tracer, steps, cores: int) -> tuple[dict, dict]:
    """Run each prefix step in its own span; returns per-layer generic
    numbers (step minus the step it extends) and the step spans. Steps
    not named after a layer (``cache:*``, ``warm-up:*``) report none."""
    spans, rows = {}, {}
    for layer, _, fn in steps:
        with tracer.span(layer, "ladder") as sp:
            rows[layer] = fn()
        spans[layer] = sp
    tracer.store.drain()
    totals = {layer: tracer.totals(sp) for layer, sp in spans.items()}
    out = {}
    for layer, prev, _ in steps:
        if layer not in LAYERS:
            continue
        t, wall = totals[layer], spans[layer].wall
        if prev is not None:
            p = totals[prev]
            wall -= spans[prev].wall
            t = StageTotals(
                task_s=t.task_s - p.task_s, shuffle_mb=t.shuffle_mb - p.shuffle_mb,
                spill_mb=t.spill_mb - p.spill_mb, failed_tasks=t.failed_tasks,
                peak_exec_mb=t.peak_exec_mb, skew=t.skew,
            )
        out[layer] = layer_numbers(wall, t, rows[layer], cores)
    return out, spans


def lineage_split(graph: str, start: float, end: float, n_buckets: int) -> dict:
    """Split GraphTableWriter.run by its commit manifests' mtimes."""
    man = os.path.join(graph, "_manifests")
    mt = lambda name: os.stat(os.path.join(man, name)).st_mtime  # noqa: E731
    marks = [mt("type_index.json")] + [mt(f"bucket-{b}.json") for b in range(n_buckets)]
    gaps = np.diff(marks)
    rest = gaps[1:] if len(gaps) > 1 else gaps
    derived = mt("bucket-derived.json")
    return {
        "plans.lineage.pass1_s": marks[0] - start,
        "plans.lineage.first_bucket_s": float(gaps[0]),
        "plans.lineage.bucket_s_p50": float(np.median(rest)),
        "plans.lineage.derived_s": derived - marks[-1],
        "plans.lineage.finalize_s": end - derived,
    }


def _execs(tracer: Tracer, spans) -> list[int]:
    jobs: set[int] = set()
    for sp in spans:
        jobs |= tracer.subtree_jobs(sp)
    return tracer.store.executions_for_jobs(jobs)


def traced(runner, workload: str, run_dir) -> dict:
    """Reference, traced and reference iterations, then the ladder and
    probes -> every per-layer metric. Prints the traced iteration's
    span coverage."""
    spark, inp = runner.spark, str(runner.inp)
    cores = spark.sparkContext.defaultParallelism
    tracer = Tracer(spark, f"{workload}-{runner.inp.name}")
    store = tracer.store
    metrics = {k: 0.0 for k in UNITS}

    before = runner.iteration("reference-before")
    t0 = time.time()
    got = runner.iteration("traced", tracer)
    t1 = time.time()
    if got is None or before is None:
        return metrics
    wall, res = got
    top = [s for s in tracer.spans if s.parent is None]
    coverage = tracer.coverage(t0, t0 + wall)
    print(f"trace_coverage={coverage:.4f}")
    store.drain()

    if workload == "build":
        # before the next iteration replaces the traced one's output
        sp = res.extra["span"]
        n_in = spark.read.parquet(res.extra["transcripts"]).count()
        lin_execs = _execs(tracer, [sp])
        metrics.update(lineage_split(res.extra["graph"], sp.start, sp.end, workloads.N_BUCKETS))
        metrics["plans.lineage.input_scan_ratio"] = store.scan_rows(lin_execs, TRANSCRIPTS) / n_in
        metrics["plans.lineage.readback_ratio"] = store.scan_rows(lin_execs, GRAPH) / res.rows
        for k, v in layer_numbers(tracer.self_s(sp), tracer.totals(sp), res.rows, cores).items():
            metrics[f"plans.lineage.{k}"] = v
        # largest broadcast relation the production plans built
        metrics["operators.masking.broadcast_mb"] = max(
            store.node_values(_execs(tracer, top), r"BroadcastExchange", "data size"),
            default=0.0) / MB

    after = runner.iteration("reference-after")
    if after is None:
        return metrics
    metrics["trace.overhead_frac"] = wall / ((before[0] + after[0]) / 2) - 1.0

    if workload == "curate":
        dsp = next(s for s in top if s.layer == "operators.dedup")
        d_execs = _execs(tracer, [dsp])
        metrics["operators.dedup.cc_rounds"] = store.count_executions(d_execs, r"^Filter", "_changed")
        metrics.update(dedup_probe(spark.read.parquet(os.path.join(inp, "documents.parquet"))))
        vecs = spark.read.parquet(os.path.join(inp, "embeddings.parquet")).count()
        pairs = res.extra["rows"]["operators.similarity"]
        metrics["operators.similarity.pair_yield"] = pairs / (vecs * (vecs - 1) / 2)
    if runner.wl.ladder is None:
        # independent calls, not a chain: each top-level span already
        # holds its layer's self numbers
        numbers = {
            s.layer: layer_numbers(s.wall, tracer.totals(s), res.extra["rows"][s.layer], cores)
            for s in top
        }
        steps = {}
    else:
        ladder = runner.wl.ladder(spark, inp, str(runner.run_dir / "ladder"))
        numbers, steps = run_ladder(tracer, ladder, cores)
    for layer, vals in numbers.items():
        for k, v in vals.items():
            metrics[f"{layer}.{k}"] = v
    if workload == "build":
        metrics["operators.extract.scan_ratio"] = store.scan_rows(
            _execs(tracer, [steps["operators.extract"]]), EVENTS
        ) / numbers["sources.transcripts"]["rows_out"]
    tracer.dump(str(run_dir / "trace.json"),
                {"job": [t0, t1], "coverage": coverage, "metrics": metrics})
    return metrics


def dedup_probe(docs) -> dict:
    """Re-derive, at the job's parameters and from public functions:

    - ``sig_ratio``: document rows pulled into signature computation
      per document, counted by a pass-through in front of
      ``dedup_minhash_lsh`` (the reused signature frame is
      ``localCheckpoint``-ed, which no SQL metric sees);
    - ``verify_yield``: verified pairs over LSH candidate pairs."""
    from tripsu_spark.operators import dedup

    pulled = docs.sparkSession.sparkContext.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            pulled.add(len(pdf))
            yield pdf

    n_docs = docs.count()
    counted = docs.mapInPandas(count_rows, schema=docs.schema)
    verified = dedup.dedup_minhash_lsh(counted, dedup.NUM_HASHES_PROD, dedup.BAND_SIZE_PROD).count()
    bands = dedup.minhash_bands(docs, dedup.NUM_HASHES_PROD, dedup.BAND_SIZE_PROD)
    cand = (
        bands.alias("x").join(bands.alias("y"), ["band_idx", "band_hash"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id"), F.col("y.doc_id")).distinct().count()
    )
    return {
        "operators.dedup.sig_ratio": pulled.value / n_docs,
        "operators.dedup.verify_yield": verified / cand if cand else 0.0,
    }

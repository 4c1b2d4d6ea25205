"""Partitioned graph materialization + lineage + checkpointed resume
(north_rule: "resumable from checkpoint with per-partition lineage +
metrics"; graft-specific operators table, SURVEY.md §2).

Iceberg semantics without the Iceberg jar (absent in this sandbox):
all physical table IO goes through the ``TableFormat`` seam
(plans/table_format.py) — parquet by default; the Iceberg adapter with
the exact spark-submit swap recipe is ``IcebergFormat``. Layout:

- the transcript keyspace is split into ``n_buckets`` deterministic
  conv_id buckets (xxhash64; bucket == Spark shuffle hash semantics is
  NOT assumed — the bucket is data, not placement);
- each bucket, and the global ``derived`` unit, is committed
  independently: ``data/bucket=<k>/`` parquet +
  ``_manifests/bucket-<k>.json`` with snapshot id, row count and an
  order-insensitive checksum (XOR of per-row xxhash64 over the
  canonical serialization, read back from the written files);
- the units are written and read back concurrently, at most one per
  core, on pool threads that carry the caller's job group and
  description; the calling thread writes the manifests, in the order
  ``type_index.json``, ``quarantine.json``, ``bucket-0.json`` …
  ``bucket-<n-1>.json``, ``bucket-derived.json``;
- malformed transcript rows are written once, alongside pass 1 and
  before any bucket commits, to ``_quarantine/bucket=<k>/`` with
  per-bucket counts in ``_manifests/quarantine.json``;
- a killed job restarts and skips every bucket whose manifest exists
  (commit order: data first, manifest last, so a torn write re-runs;
  after a failure, units still running finish without a manifest);
- ``metrics.json`` aggregates per-bucket counts at the end.

The graph table itself is partitioned by ``pred_part`` (``type`` for
rdf:type statements, ``data`` for the rest): pass-1 style scans of a
stored table (rdf:type only) prune to one partition.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor, as_completed

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.util import inheritable_thread_target

from .. import RDF_TYPE
from ..crypto import Pseudonymizer
from ..functions.terms import serialize_triple_line
from ..operators.extract import (
    TRANSCRIPT_COLS,
    derived_triples,
    per_turn_triples,
    type_triples,
)
from ..operators.index import build_type_index
from ..rules import Rules
from .compact import compact_triples, maybe_expand, storage_level
from .pipeline import pseudonymize
from .table_format import ParquetFormat, TableFormat


def predicate_partition_col():
    """Partition value for the stored graph table.

    TWO partitions — ``type`` (rdf:type statements) vs ``data``
    (everything else). Partition by what readers actually filter on
    (guide §6): the only selective reader is pass 1
    (``read_for_index``, rdf:type only); pass 2 always reads every
    predicate. The old per-predicate vertical partitioning made every
    dynamic-partition write task keep ~14 open parquet writers and
    multiplied output files ~7x for pruning nobody used (measured at
    sf0.1: partitioned write +0.89s over flat with 14 values, +0.17s
    with 2).
    """
    return F.when(F.col("predicate") == RDF_TYPE, F.lit(RDF_TYPE_PART)).otherwise(
        F.lit("data")
    )


# Partition value predicate_partition_col() yields for rdf:type —
# pass-1 reads of a stored graph table filter on it for pruning.
RDF_TYPE_PART = "type"


def read_for_index(spark: SparkSession, graph_path: str) -> DataFrame:
    """Read ONLY the rdf:type partition of a stored graph table (the
    partition-pruned pass-1 input; `.explain` shows PartitionFilters).
    Works against both storage formats (plans/compact.py)."""
    return maybe_expand(
        spark.read.parquet(graph_path)
        .filter(F.col("pred_part") == RDF_TYPE_PART)
        .drop("pred_part")
    )


def bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")


# A transcript row missing any of these cannot mint valid IRIs/triples
# (null conv_id/turn_idx break the subject IRI; null role/text break
# literal objects). SURVEY §4: such rows must NOT be silently dropped —
# they are quarantined per bucket with counts in the bucket manifests.
def _invalid_transcript():
    return (
        F.col("conv_id").isNull()
        | F.col("turn_idx").isNull()
        | F.col("role").isNull()
        | F.col("text").isNull()
    )


def triples_checksum(triples: DataFrame) -> tuple[int, int]:
    """(row_count, order-insensitive checksum) over canonical lines, in
    one Spark job: an ``Observation`` over a ``noop`` write aggregates
    inside the scan's tasks, with no shuffle and no final collect."""
    obs = Observation()
    triples.select(F.xxhash64(serialize_triple_line()).alias("h")).observe(
        obs, F.count(F.lit(1)).alias("n"), F.bit_xor("h").alias("checksum")
    ).write.format("noop").mode("overwrite").save()
    row = obs.get
    return int(row["n"]), int(row["checksum"] or 0)


def _stored(triples: DataFrame, level: int) -> DataFrame:
    """The physical frame of a graph-table unit: its pred_part column,
    then (levels 1-2) compaction."""
    out = triples.withColumn("pred_part", predicate_partition_col())
    # pred_part is computed BEFORE compaction (level 2 dictionary-codes
    # the predicate column away); it passes through compact_triples.
    return compact_triples(out, level=level) if level else out


def _as_read(schema: StructType) -> StructType:
    """``schema`` as a parquet read reports it: every column nullable."""
    return StructType([StructField(f.name, f.dataType, True, f.metadata) for f in schema])


class GraphTableWriter:
    """Bucketed, resumable two-pass pipeline runner with an Iceberg-style
    snapshot log.

    Each COMPLETED run commits a snapshot: ``_snapshots/<seq>-<id>.json``
    records every bucket's data path, row count, checksum, quarantine
    count, and the PHYSICAL schema written (snapshots may differ —
    e.g. standard vs prefix-compacted storage; ``read`` restores the
    same logical frame either way). ``run(overwrite=True)`` starts a new
    table version in ``data/v<seq>/`` instead of resuming; ``read(
    as_of=<snapshot_id>)`` time-travels to any committed snapshot.
    Version 1 keeps the bare ``data/bucket=<k>`` layout so existing
    tables/readers are unaffected.
    """

    def __init__(
        self,
        base_path: str,
        n_buckets: int = 8,
        table_format: TableFormat | None = None,
    ):
        self.base_path = base_path
        self.n_buckets = n_buckets
        # Physical-format seam (plans/table_format.py): every table
        # read/write below goes through this adapter; swapping parquet
        # for Iceberg is a constructor argument, not a rewrite. JSON
        # manifests/snapshots/quarantine are writer-side control data,
        # not table data, and stay on the filesystem in either format.
        self.fmt = table_format if table_format is not None else ParquetFormat()
        self.snapshot_dir = os.path.join(base_path, "_snapshots")
        os.makedirs(self.snapshot_dir, exist_ok=True)
        self._set_version(self._latest_version())

    # ------------------------------------------------------------ versions

    def _latest_version(self) -> int:
        vmax = 1
        data = os.path.join(self.base_path, "data")
        if os.path.isdir(data):
            for name in os.listdir(data):
                if name.startswith("v") and name[1:].isdigit():
                    vmax = max(vmax, int(name[1:]))
        return vmax

    def _set_version(self, version: int) -> None:
        self.version = version
        sub = "" if version == 1 else f"v{version}"
        self.data_dir = os.path.join(self.base_path, "data", sub) if sub else os.path.join(self.base_path, "data")
        self.manifest_dir = os.path.join(self.base_path, "_manifests", sub) if sub else os.path.join(self.base_path, "_manifests")
        self.quarantine_dir = os.path.join(self.base_path, "_quarantine", sub) if sub else os.path.join(self.base_path, "_quarantine")
        os.makedirs(self.manifest_dir, exist_ok=True)

    # ------------------------------------------------------------ snapshots

    def snapshots(self) -> list[dict]:
        """Committed snapshots, oldest first."""
        out = []
        for name in sorted(os.listdir(self.snapshot_dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.snapshot_dir, name)) as fh:
                    out.append(json.load(fh))
        return out

    def _commit_snapshot(self, snapshot_id: str, schema_json: str, manifests: dict) -> None:
        buckets = {
            str(b): {
                "path": os.path.relpath(
                    os.path.join(self.data_dir, f"bucket={b}"), self.base_path
                ),
                "row_count": m["row_count"],
                "checksum": m["checksum"],
                "quarantined": m.get("quarantined", 0),
            }
            for b, m in sorted(manifests.items(), key=lambda kv: str(kv[0]))
        }
        seq = len(self.snapshots()) + 1
        _atomic_write_json(
            os.path.join(self.snapshot_dir, f"{seq:06d}-{snapshot_id}.json"),
            {
                "snapshot_id": snapshot_id,
                "sequence": seq,
                "version": self.version,
                "schema": schema_json,
                "buckets": buckets,
            },
        )

    def _manifest_path(self, bucket) -> str:
        return os.path.join(self.manifest_dir, f"bucket-{bucket}.json")

    def committed_buckets(self) -> set:
        out: set = set()
        for name in os.listdir(self.manifest_dir):
            if name.startswith("bucket-") and name.endswith(".json"):
                raw = name[len("bucket-"):-len(".json")]
                out.add(int(raw) if raw.isdigit() else raw)
        return out

    def _manifests(self) -> dict:
        """Every committed bucket's manifest in this version, by bucket."""
        out = {}
        for b in self.committed_buckets():
            with open(self._manifest_path(b)) as fh:
                out[b] = json.load(fh)
        return out

    def run(
        self,
        spark: SparkSession,
        transcripts: DataFrame,
        rules: Rules,
        hasher: Pseudonymizer,
        snapshot_id: str | None = None,
        overwrite: bool = False,
        store_compact: bool | int = False,
    ) -> dict:
        """Process every uncommitted bucket; returns metrics dict.

        The global type index is built over ALL transcripts first (pass
        1 must see every rdf:type statement regardless of bucket) and
        persisted once as the pass-2 broadcast side.

        ``overwrite=True`` starts a NEW table version (fresh data dirs;
        prior snapshots stay readable via ``read(as_of=...)``).
        ``store_compact`` stores this version compacted
        (plans/compact.py; True/1 = prefix codes, 2 = + dictionary-coded
        kind/predicate/datatype tinyints) — a PHYSICAL schema change;
        ``read`` restores the identical logical frame, and checksums are
        computed on the logical frame so they are storage-format-invariant.
        """
        snapshot_id = snapshot_id or f"snap-{int(time.time() * 1000)}"
        if overwrite and (self.committed_buckets() or self.snapshots()):
            self._set_version(self.version + 1)
        level = int(store_compact)
        manifests = self._manifests()
        if manifests:
            # A table version must be one physical layout: resuming with
            # a different --store-compact than the committed buckets
            # would write mixed schemas into one version and read() would
            # return silently wrong triples (schema union, no error).
            # Refuse. All buckets of a version share one level, so
            # checking one suffices.
            b = min(manifests, key=str)
            committed_level = manifests[b].get("storage_level")
            if committed_level is None:
                # Legacy manifest (committed before storage_level was
                # recorded): the key's absence does NOT mean level 0 —
                # sniff the committed bucket's physical parquet schema
                # instead of guessing (a level-1 table misread as 0
                # would refuse its own correct resume and steer the
                # operator toward appending level-0 buckets into a
                # level-1 version).
                committed_level = storage_level(
                    self.fmt.read(spark, os.path.join(self.data_dir, f"bucket={b}")).columns
                )
            if committed_level != level:
                raise ValueError(
                    f"resume storage-level mismatch: bucket {b} of this table "
                    f"version was committed at storage level {committed_level}, "
                    f"but this run requested {level}; rerun with "
                    f"store_compact={committed_level}, or start a new version "
                    f"with overwrite=True"
                )
        metrics: dict = {
            "snapshot_id": snapshot_id, "buckets": {}, "skipped": sorted(manifests, key=str)
        }

        # Project once to the transcript columns plus each row's bucket;
        # a null conv_id (a quarantine case) hashes to bucket 0 so every
        # malformed row still has a deterministic home bucket. Every
        # pass below sees valid rows only.
        bucketed = transcripts.select(
            *TRANSCRIPT_COLS,
            F.coalesce(bucket_col(self.n_buckets), F.lit(0)).alias("_bucket"),
        )
        valid = bucketed.filter(~_invalid_transcript())

        index_path = os.path.join(
            self.base_path,
            "type_index" if self.version == 1 else f"type_index_v{self.version}",
        )
        index_manifest = os.path.join(self.manifest_dir, "type_index.json")
        quarantine_manifest = os.path.join(self.manifest_dir, "quarantine.json")
        # Pass 1 reads only the rdf:type statements: one explode per
        # row and the index aggregate, one Exchange.
        index_df = build_type_index(type_triples(valid))
        pending = [u for u in [*range(self.n_buckets), "derived"] if u not in manifests]
        # Units are independent Spark jobs; running them side by side
        # keeps the executors busy between one unit's small jobs. More
        # concurrent units than cores would only queue tasks.
        workers = max(1, min(len(pending), spark.sparkContext.defaultParallelism))
        with ThreadPoolExecutor(workers) as pool:
            try:
                # Malformed rows land in _quarantine/bucket=<k> in ONE
                # write, alongside pass 1 and before any bucket commits
                # (audit trail, SURVEY §4); the bucket manifests take
                # their counts from quarantine.json.
                quarantine = None
                if not os.path.exists(quarantine_manifest):
                    quarantine = pool.submit(
                        inheritable_thread_target(spark)(self._write_quarantine), bucketed
                    )
                if not os.path.exists(index_manifest):
                    obs = Observation()
                    self.fmt.write(index_df.observe(obs, F.count(F.lit(1)).alias("n")), index_path)
                    _atomic_write_json(index_manifest, {
                        "snapshot_id": snapshot_id, "rows": obs.get["n"], "stage": "pass1"
                    })
                if quarantine is not None:
                    _atomic_write_json(quarantine_manifest, {
                        "snapshot_id": snapshot_id, "buckets": quarantine.result()
                    })
                with open(quarantine_manifest) as fh:
                    quarantined = json.load(fh)["buckets"]
                index_df = self.fmt.read(spark, index_path, schema=index_df.schema)

                # Per-turn triples are conversation-local -> one bucket
                # each. The pipeline is built once; each bucket's filter
                # on _bucket is pushed below the explode and both index
                # joins onto the scan, so a bucket reads and transforms
                # only its own rows. Derived triples (entity typing,
                # link scores) are GLOBAL facts and get their own single
                # commit, so the union over all commits equals
                # extract_triples(all) exactly regardless of n_buckets
                # (no cross-bucket duplicate type rows).
                per_turn = pseudonymize(per_turn_triples(valid), index_df, rules, hasher)
                futures = []
                for unit in pending:
                    out = (
                        pseudonymize(derived_triples(valid), index_df, rules, hasher)
                        if unit == "derived"
                        else per_turn.filter(F.col("_bucket") == unit).drop("_bucket")
                    )
                    futures.append((unit, pool.submit(
                        inheritable_thread_target(spark)(self._commit_unit),
                        spark, _stored(out, level), unit,
                    )))
                # Manifests are written here, in unit order, as the
                # units finish: a unit's manifest follows its data and
                # every earlier unit's manifest.
                for fut in as_completed([f for _, f in futures]):
                    fut.result()  # the first failure raises here
                    while futures and futures[0][1].done():
                        bucket, done = futures.pop(0)
                        n, checksum = done.result()
                        n_bad = quarantined.get(str(bucket), 0)
                        manifests[bucket] = {
                            "snapshot_id": snapshot_id,
                            "partition_id": bucket,
                            "row_count": n,
                            "checksum": checksum,
                            "quarantined": n_bad,
                            "storage_level": level,
                        }
                        _atomic_write_json(self._manifest_path(bucket), manifests[bucket])
                        metrics["buckets"][str(bucket)] = {
                            "rows": n, "checksum": checksum, "quarantined": n_bad
                        }
            except BaseException:
                # Units not yet started are dropped; running ones finish
                # (the with-block waits for them) but get no manifest,
                # so a resume re-runs them.
                pool.shutdown(cancel_futures=True)
                raise

        metrics["total_rows"] = sum(m["row_count"] for m in manifests.values())
        metrics["total_quarantined"] = sum(m.get("quarantined", 0) for m in manifests.values())
        _atomic_write_json(os.path.join(self.base_path, "metrics.json"), metrics)
        # run completed -> commit a snapshot (skip pure no-op resumes so
        # an idempotent re-run doesn't duplicate the log)
        snaps = self.snapshots()
        if metrics["buckets"] or not any(s["version"] == self.version for s in snaps):
            schema = _stored(per_turn.drop("_bucket"), level).drop("pred_part").schema
            self._commit_snapshot(snapshot_id, _as_read(schema).json(), manifests)
        return metrics

    def _write_quarantine(self, bucketed: DataFrame) -> dict:
        """Write the malformed rows under _quarantine/bucket=<k>; returns
        their count per bucket."""
        obs = Observation()
        bad = bucketed.filter(_invalid_transcript()).withColumnRenamed("_bucket", "bucket")
        bad.observe(
            obs, *[F.count_if(F.col("bucket") == b).alias(str(b)) for b in range(self.n_buckets)]
        ).write.mode("overwrite").partitionBy("bucket").json(self.quarantine_dir)
        return obs.get

    def _commit_unit(self, spark: SparkSession, out: DataFrame, unit) -> tuple[int, int]:
        """Write one unit's data and read it back with the schema it was
        written with: (row_count, checksum) of what is on disk."""
        data_path = os.path.join(self.data_dir, f"bucket={unit}")
        self.fmt.write(out, data_path, partition_by=["pred_part"])
        back = self.fmt.read(spark, data_path, schema=out.schema)
        return triples_checksum(maybe_expand(back.drop("pred_part")))

    def read(self, spark: SparkSession, as_of: str | None = None) -> DataFrame:
        """Logical triple frame of the latest snapshot, or time-travel
        to ``as_of=<snapshot_id>``. Physical schema differences between
        snapshots (e.g. compact vs standard storage) are resolved here —
        callers always get the same logical columns."""
        snaps = self.snapshots()
        if not snaps:
            # No committed snapshot yet. Mid-run: read the buckets the
            # manifests vouch for, through the format seam (a non-
            # directory format has no "<base>/data" umbrella table to
            # read — only per-bucket tables exist). Legacy tables with
            # neither snapshots nor manifests fall back to the direct
            # parquet-layout read.
            done = self.committed_buckets()
            if done:
                paths = [
                    os.path.join(self.data_dir, f"bucket={b}")
                    for b in sorted(done, key=str)
                ]
                return maybe_expand(
                    self.fmt.read_union(spark, paths, self.data_dir)
                    .drop("pred_part", "bucket")
                )
            return maybe_expand(
                self.fmt.read(spark, os.path.join(self.base_path, "data"))
                .drop("pred_part", "bucket")
            )
        if as_of is None:
            snap = snaps[-1]
        else:
            matching = [s for s in snaps if s["snapshot_id"] == as_of]
            if not matching:
                known = [s["snapshot_id"] for s in snaps]
                raise ValueError(f"unknown snapshot {as_of!r}; committed: {known}")
            snap = matching[-1]
        paths = [os.path.join(self.base_path, b["path"]) for b in snap["buckets"].values()]
        # all buckets of one snapshot share a version data dir; an
        # empty-bucket snapshot reaches read_union's descriptive error
        base = os.path.dirname(paths[0]) if paths else self.data_dir
        # the recorded schema also reads buckets that hold no rows
        schema = StructType.fromJson(json.loads(snap["schema"]))
        return maybe_expand(
            self.fmt.read_union(spark, paths, base, schema=schema).drop("pred_part", "bucket")
        )


def _atomic_write_json(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)

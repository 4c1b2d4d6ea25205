"""Physical table-format seam for the graph-table writer.

The north rule names Iceberg as the table format; this sandbox has no
Iceberg runtime jar (no network, nothing vendored — verified), so
``GraphTableWriter`` implements snapshot / manifest / time-travel /
resume semantics itself over parquet. This module makes the format an
ADAPTER rather than an assumption: every point where the writer
touches physical storage goes through a ``TableFormat``, so swapping
parquet for Iceberg is one constructor argument, not a rewrite.

``ParquetFormat`` is the default and preserves the existing layout
bit-for-bit. ``IcebergFormat`` is the documented swap: its methods
carry the real calls (`df.writeTo(...).append()` etc.) and it
fail-fasts with the exact spark-submit recipe when the runtime is
absent, so the adapter is verified against the interface even though
the jar can't run here (tests/test_lineage.py).
"""

from __future__ import annotations

import os
from abc import ABC, abstractmethod

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class TableFormat(ABC):
    """Everything GraphTableWriter needs from a physical table format.

    Paths are opaque identifiers chosen by the writer (directory paths
    for parquet; a real catalog format maps them to table identifiers).
    """

    @abstractmethod
    def write(self, df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
        """Commit ``df`` at ``path``, replacing prior contents."""

    @abstractmethod
    def read(self, spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
        """Read one committed table/bucket back. ``schema``, when the
        caller knows it (the frame it wrote), spares a format that
        infers schemas from files the inference, and lets it read a
        table of zero rows; a catalog format, which stores the schema,
        ignores it."""

    @abstractmethod
    def read_union(
        self, spark: SparkSession, paths: list[str], base_path: str,
        schema: StructType | None = None,
    ) -> DataFrame:
        """Read several sibling bucket paths as one frame (``schema``
        as for ``read``)."""


class ParquetFormat(TableFormat):
    """Default: plain partitioned parquet directories (current layout)."""

    def write(self, df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    def read(self, spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
        return _reader(spark, schema).parquet(path)

    def read_union(
        self, spark: SparkSession, paths: list[str], base_path: str,
        schema: StructType | None = None,
    ) -> DataFrame:
        _require_paths(paths, base_path)
        # basePath makes Spark treat the bucket=<k> roots as partition dirs
        return _reader(spark, schema).option("basePath", base_path).parquet(*paths)


def _reader(spark: SparkSession, schema: StructType | None):
    """A zero-row partitioned write leaves no part file, so only a
    given schema reads it back; partition columns missing from
    ``schema`` are still discovered from the directory names."""
    return spark.read if schema is None else spark.read.schema(schema)


#: spark-submit flags that make IcebergFormat runnable on a real
#: cluster — the documented swap recipe. The runtime artifact is
#: per-Spark-line (they are NOT interchangeable):
#:   Spark 3.5 -> org.apache.iceberg:iceberg-spark-runtime-3.5_2.12:1.5.x
#:   Spark 4.x -> org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0+
#:     (Iceberg only ships a Spark 4 runtime from 1.10 on)
#: This repo runs PySpark 4.1.x, so the recipe defaults to the 4.0_2.13
#: line; substitute the 3.5 artifact on a Spark 3.5 cluster.
ICEBERG_SUBMIT_RECIPE = """\
spark-submit \\
  --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0 \\
  --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions \\
  --conf spark.sql.catalog.{catalog}=org.apache.iceberg.spark.SparkCatalog \\
  --conf spark.sql.catalog.{catalog}.type=hadoop \\
  --conf spark.sql.catalog.{catalog}.warehouse={warehouse} \\
  --py-files tripsu_spark.zip jobs/run_pipeline.py ... --table-format iceberg
# Spark 3.5 clusters: use iceberg-spark-runtime-3.5_2.12:1.5.2 instead"""


class IcebergFormat(TableFormat):
    """Iceberg adapter: same interface, tables instead of directories.

    A writer path ``<base>/data/bucket=3`` maps to the table identifier
    ``<catalog>.<namespace>.bucket_3`` (Iceberg manages its own file
    layout under the catalog warehouse). Partitioning goes through
    ``partitionedBy`` so Iceberg tracks it as table metadata (enabling
    its partition pruning instead of directory listing).

    Note the intentional division of labor when this adapter is active:
    GraphTableWriter's own manifests/snapshots keep working (they gate
    RESUME at bucket granularity and hold the cross-format checksums),
    while Iceberg provides atomic commits, snapshot isolation and
    time-travel WITHIN each bucket table. A deeper integration could
    retire the writer's JSON manifests in favor of Iceberg snapshot
    properties — mechanical, but pointless to fake without the runtime.
    """

    def __init__(self, catalog: str = "kg", namespace: str = "graph"):
        self.catalog = catalog
        self.namespace = namespace

    def _require_runtime(self, spark: SparkSession) -> None:
        impl = spark.conf.get(f"spark.sql.catalog.{self.catalog}", None)
        if impl is None:
            raise RuntimeError(
                f"Iceberg catalog {self.catalog!r} is not configured in this "
                "Spark session (no iceberg-spark-runtime jar / catalog conf). "
                "Launch with:\n"
                + ICEBERG_SUBMIT_RECIPE.format(
                    catalog=self.catalog, warehouse="<warehouse-path>"
                )
            )

    def table_identifier(self, path: str) -> str:
        """Directory-style writer path -> catalog table identifier.

        DISTINCT paths must map to DISTINCT tables: the writer
        addresses buckets as ``<base>/data/bucket=3`` (version 1) and
        ``<base>/data/v2/bucket=3`` (version 2), and two pipelines may
        share a catalog with different ``--output`` bases — a
        leaf-only mapping would createOrReplace the SAME table from
        all of them, destroying prior versions' data and breaking
        ``read(as_of=...)``. The readable leaf keeps names browsable;
        the crc32 of the full normalized path disambiguates (stable
        across processes, unlike hash())."""
        import zlib

        norm = path.rstrip("/")
        leaf = os.path.basename(norm).replace("=", "_").replace("-", "_")
        tag = zlib.crc32(norm.encode("utf-8")) & 0xFFFFFFFF
        return f"{self.catalog}.{self.namespace}.{leaf}_{tag:08x}"

    def write(self, df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
        self._require_runtime(df.sparkSession)
        w = df.writeTo(self.table_identifier(path)).using("iceberg")
        if partition_by:
            w = w.partitionedBy(*partition_by)
        w.createOrReplace()

    def read(self, spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
        self._require_runtime(spark)
        return spark.read.table(self.table_identifier(path))

    def read_union(
        self, spark: SparkSession, paths: list[str], base_path: str,
        schema: StructType | None = None,
    ) -> DataFrame:
        self._require_runtime(spark)
        _require_paths(paths, base_path)
        out = None
        for p in paths:
            df = spark.read.table(self.table_identifier(p))
            out = df if out is None else out.unionByName(df)
        return out


def _require_paths(paths: list[str], base_path: str) -> None:
    """A snapshot/manifest set with ZERO buckets would otherwise fail
    far from the cause (IcebergFormat would return None -> caller
    AttributeError on .drop; parquet would raise an opaque arity
    error inside spark.read). Fail at the seam with the real reason."""
    if not paths:
        raise ValueError(
            f"read_union: no bucket paths to read under {base_path!r} — "
            "the snapshot/manifest set is empty (nothing was committed, "
            "or the wrong snapshot was selected)"
        )

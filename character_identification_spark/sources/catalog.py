"""Stage-table storage: Iceberg when a catalog is configured, parquet
otherwise.

The north rule targets Iceberg tables (snapshots give atomic stage commits,
partition pruning from metadata, and time-travel for resume). The sandbox
image has no Iceberg runtime jars, so StageStore probes for a configured
Spark catalog and falls back to parquet directories with an atomic-enough
protocol (_SUCCESS marker = commit point — Spark writes it last). The
calling code is identical either way; on a real cluster set
``spark.sql.catalog.<name>`` configs and pass ``catalog=<name>``.

This mirrors the reference's stage-checkpoint pattern — it pickles fully
featurized states between the coref and linking stages (reference:
latest/export_noc_clusters.py:167-173 write, latest/run-linking.py:36-38
read) — promoted from pickle files to real tables.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# Spark's file committers name each output file part-<task partition>-...
_PART_ID = re.compile(r"part-(\d+)-")


def _visible(entry: str) -> bool:
    # the names Spark's file source skips: _SUCCESS, _temporary, .crc, ...
    return not entry.startswith(("_", "."))


class StageStore:
    """One table per name, under a catalog or a root directory.

    ``write`` commits a stage table (Spark job); ``read`` re-reads it, with
    a known ``schema`` so the parquet reader infers nothing. ``lineage``
    gives the committed table's (partition_id, rows): in parquet mode the
    writer's partitions, read from the part files' footers without a scan.
    ``append_rows`` appends a few driver-side rows (the ``_meta_*`` tables):
    in parquet mode one pyarrow file, written under a hidden name and
    renamed into place, which is atomic on the local filesystem the
    fallback assumes. In catalog mode both run as Spark operations.
    """

    def __init__(self, spark: SparkSession, root: str, catalog: str | None = None):
        self.spark = spark
        self.root = root
        self.catalog = catalog
        if catalog is None:
            os.makedirs(root, exist_ok=True)

    # -- parquet fallback paths ------------------------------------------
    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        if self.catalog:
            return self.spark.catalog.tableExists(f"{self.catalog}.{name}")
        return os.path.exists(os.path.join(self._path(name), "_SUCCESS"))

    def write(self, df: DataFrame, name: str, partition_by: tuple[str, ...] = ()) -> None:
        if self.catalog:
            w = df.writeTo(f"{self.catalog}.{name}")
            if partition_by:
                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.createOrReplace()
        else:
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(self._path(name))

    def lineage(self, name: str) -> list[tuple[int, int]]:
        """Sorted (partition_id, rows) of a committed table."""
        if self.catalog:
            counts = self.read(name).groupBy(
                F.spark_partition_id().alias("partition_id")
            ).agg(F.count("*").alias("rows")).collect()
            return sorted((int(r["partition_id"]), int(r["rows"])) for r in counts)
        rows: Counter = Counter()
        for d, dirs, files in os.walk(self._path(name)):
            dirs[:] = [x for x in dirs if _visible(x)]
            for f in filter(_visible, files):
                m = _PART_ID.match(f)
                if m:  # a partitioned write splits one task over directories
                    rows[int(m.group(1))] += pq.read_metadata(os.path.join(d, f)).num_rows
        return sorted(rows.items())

    def append_rows(self, name: str, rows: list[tuple], schema: StructType) -> None:
        if self.catalog:
            df = self.spark.createDataFrame(rows, schema)
            tbl = f"{self.catalog}.{name}"
            if self.spark.catalog.tableExists(tbl):
                df.writeTo(tbl).append()
            else:
                df.writeTo(tbl).create()
            return
        path = self._path(name)
        os.makedirs(path, exist_ok=True)
        table = pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
        )
        base = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(path, f".{base}")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(path, base))

    def read(self, name: str, schema: StructType | None = None) -> DataFrame:
        if self.catalog:
            return self.spark.table(f"{self.catalog}.{name}")
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self._path(name))

    def delete(self, name: str) -> None:
        if self.catalog:
            self.spark.sql(f"DROP TABLE IF EXISTS {self.catalog}.{name}")
        else:
            shutil.rmtree(self._path(name), ignore_errors=True)

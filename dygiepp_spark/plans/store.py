"""Stage-output table store: parquet in the sandbox, Iceberg on a cluster.

The pipeline's checkpoint contract (write stage output + per-partition
metrics, re-read for the next stage, manifest-gated resume) is format-
agnostic; only the physical writer/reader changes. This module isolates
that choice so `plans.pipeline.Pipeline` never mentions a format.

The stage's write is its only Spark job: ``write_metrics`` takes the
per-partition row counts from the metadata of the files ``write`` just
produced, not from a re-scan of their rows, and returns the stage's row
count for the manifest. Every store writes the same ``_metrics`` rows
(``METRICS_SCHEMA``).

* ``ParquetStore`` — the sandbox/default backend: ``<warehouse>/<stage>/
  data`` + ``.../_metrics`` parquet directories, manifest JSON on the
  local/DBFS-style filesystem. The metrics come from the ``part-<pid>-…``
  files' parquet footers, grouped by the write task's partition id and
  written with pyarrow on the Spark driver. This is the backend every
  test exercises.
* ``IcebergStore`` — the production backend the north rule names: stage
  outputs become tables ``<catalog>.<namespace>.<stage>`` via the V2
  ``writeTo(...).createOrReplace()`` API, metrics land in
  ``<stage>__metrics`` (one row per data file, from the ``.files``
  metadata table's ``record_count``), and the resume manifest is a
  one-row ``<stage>__manifest`` table (clusters don't share a local FS
  with the driver). Requires the Iceberg runtime jar + a configured
  catalog (``spark.sql.catalog.<name>`` …), which this project does not
  ship — the class is import-safe and unit-tested for its catalog check,
  and fails with an actionable error if used without a catalog; its
  write/metrics/manifest paths are untested.

Select with ``SPARK_GRAFT_TABLE_FORMAT=iceberg`` +
``SPARK_GRAFT_CATALOG=<catalog>.<namespace>`` (see
``make_store``), or pass a store instance to ``Pipeline`` directly.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
from collections import Counter
from typing import Protocol

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

#: one row per written partition (parquet) or data file (Iceberg)
METRICS_SCHEMA = (
    "stage string, partition_id int, rows bigint, "
    "stage_wall_sec double, written_at timestamp"
)


class StageStore(Protocol):
    def write(self, name: str, df: DataFrame) -> DataFrame: ...
    def write_metrics(self, name: str, wall_sec: float) -> int: ...
    def read(self, name: str) -> DataFrame: ...
    def location(self, name: str) -> str: ...
    def manifest(self, name: str) -> dict | None: ...
    def commit_manifest(self, name: str, payload: dict) -> None: ...


class ParquetStore:
    """Filesystem-warehouse backend (the tested sandbox path)."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse

    def location(self, name: str) -> str:
        return os.path.join(self.warehouse, name, "data")

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.warehouse, name, "manifest.json")

    def write(self, name: str, df: DataFrame) -> DataFrame:
        path = self.location(name)
        df.write.mode("overwrite").parquet(path)
        # the schema is known: skip the footer-reading inference job
        return self.spark.read.schema(df.schema).parquet(path)

    def write_metrics(self, name: str, wall_sec: float) -> int:
        # rows per write task from the footers of the files ``write`` just
        # produced (``part-<pid>-<uuid>-c<n>...``); no Spark job
        data = self.location(name)
        rows: Counter[int] = Counter()
        for f in os.listdir(data):
            if f.startswith("part-"):
                pid = int(f.split("-")[1])
                rows[pid] += pq.read_metadata(os.path.join(data, f)).num_rows
        pids = sorted(rows)
        table = pa.table(
            [
                [name] * len(pids),
                pids,
                [rows[p] for p in pids],
                [wall_sec] * len(pids),
                [datetime.datetime.now(datetime.timezone.utc)] * len(pids),
            ],
            # timestamp -> UTC-adjusted micros, read back as ``timestamp``
            schema=to_arrow_schema(StructType.fromDDL(METRICS_SCHEMA)),
        )
        out = os.path.join(self.warehouse, name, "_metrics")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        pq.write_table(table, os.path.join(out, "part-00000.parquet"))
        return sum(rows.values())

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.location(name))

    def manifest(self, name: str) -> dict | None:
        # a missing or unreadable manifest (e.g. truncated by a crash on a
        # filesystem without atomic rename) means "not done": re-run
        try:
            with open(self._manifest_path(name)) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def commit_manifest(self, name: str, payload: dict) -> None:
        # write-then-rename in the same directory: readers see either no
        # manifest or the whole one, never a partial write
        path = self._manifest_path(name)
        tmp = f"{path}.tmp"
        try:
            with open(tmp, "w") as f:
                json.dump(payload, f)
            os.replace(tmp, path)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)


class IcebergStore:
    """Iceberg-catalog backend (production; needs the Iceberg runtime).

    ``namespace`` is ``<catalog>.<db>``; stage ``turns`` becomes table
    ``<catalog>.<db>.turns``. Writes go through the DataFrameWriterV2 so
    Iceberg commits are atomic snapshot swaps — which is what makes the
    manifest a TABLE here rather than a marker file: the manifest row is
    committed only after the data table, so a crash between the two
    leaves the stage "not done" and the resume re-runs it (same
    crash-semantics as ParquetStore's manifest.json-after-data order).
    """

    def __init__(self, spark: SparkSession, namespace: str):
        if namespace.count(".") != 1:
            raise ValueError(
                f"namespace must be '<catalog>.<db>', got {namespace!r}"
            )
        catalog = namespace.split(".", 1)[0]
        if spark.conf.get(f"spark.sql.catalog.{catalog}", None) is None:
            raise RuntimeError(
                f"Iceberg catalog {catalog!r} is not configured on this "
                f"session (spark.sql.catalog.{catalog}); add the "
                "iceberg-spark-runtime jar and catalog conf, or use "
                "ParquetStore"
            )
        self.spark = spark
        self.namespace = namespace

    def location(self, name: str) -> str:
        return f"{self.namespace}.{name}"

    def write(self, name: str, df: DataFrame) -> DataFrame:
        df.writeTo(self.location(name)).createOrReplace()
        return self.read(name)

    def write_metrics(self, name: str, wall_sec: float) -> int:
        # one row per data file of the snapshot ``write`` just committed,
        # numbered in file_path order (unverified: needs the runtime)
        files = (
            self.spark.read.table(f"{self.location(name)}.files")
            .orderBy("file_path")
            .collect()
        )
        now = datetime.datetime.now(datetime.timezone.utc)
        counts = [r.record_count for r in files]
        self.spark.createDataFrame(
            [(name, i, n, wall_sec, now) for i, n in enumerate(counts)],
            METRICS_SCHEMA,
        ).writeTo(self.location(f"{name}__metrics")).createOrReplace()
        return sum(counts)

    def read(self, name: str) -> DataFrame:
        return self.spark.read.table(self.location(name))

    def manifest(self, name: str) -> dict | None:
        tbl = self.location(f"{name}__manifest")
        if not self.spark.catalog.tableExists(tbl):
            return None
        row = self.spark.read.table(tbl).head()
        return json.loads(row.payload) if row else None

    def commit_manifest(self, name: str, payload: dict) -> None:
        self.spark.createDataFrame(
            [(json.dumps(payload),)], "payload string"
        ).writeTo(self.location(f"{name}__manifest")).createOrReplace()


def make_store(
    spark: SparkSession, warehouse: str, table_format: str | None = None
) -> StageStore:
    """Env-driven backend choice: ``SPARK_GRAFT_TABLE_FORMAT`` in
    {parquet (default), iceberg}; iceberg reads the catalog.namespace from
    ``SPARK_GRAFT_CATALOG`` (falling back to ``warehouse`` if it already
    looks like a dotted identifier)."""
    fmt = (table_format or os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "parquet")).lower()
    if fmt == "parquet":
        return ParquetStore(spark, warehouse)
    if fmt == "iceberg":
        ns = os.environ.get("SPARK_GRAFT_CATALOG", "")
        if not ns and "." in warehouse and "/" not in warehouse:
            ns = warehouse
        return IcebergStore(spark, ns)
    raise ValueError(f"unknown table format {fmt!r}")

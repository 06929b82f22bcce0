"""Stage-output table store: parquet in the sandbox, Iceberg on a cluster.

The pipeline's checkpoint contract (write stage output + per-partition
metrics, re-read for the next stage, manifest-gated resume) is format-
agnostic; only the physical writer/reader changes. This module isolates
that choice so `plans.pipeline.Pipeline` never mentions a format:

* ``ParquetStore`` — the sandbox/default backend: ``<warehouse>/<stage>/
  data`` + ``.../_metrics`` parquet directories, manifest JSON on the
  local/DBFS-style filesystem. This is the backend every test and the
  driver harness exercises.
* ``IcebergStore`` — the production backend the north rule names: stage
  outputs become tables ``<catalog>.<namespace>.<stage>`` via the V2
  ``writeTo(...).createOrReplace()`` API, metrics land in
  ``<stage>__metrics``, and the resume manifest is a one-row
  ``<stage>__manifest`` table (clusters don't share a local FS with the
  driver). Requires the Iceberg runtime jar + a configured catalog
  (``spark.sql.catalog.<name>`` …), which this sandbox does not ship —
  the class is import-safe and unit-tested for its SQL/identifier
  construction, and fails with an actionable error if used without a
  catalog.

Select with ``SPARK_GRAFT_TABLE_FORMAT=iceberg`` +
``SPARK_GRAFT_CATALOG=<catalog>.<namespace>`` (see
``make_store``), or pass a store instance to ``Pipeline`` directly.
"""

from __future__ import annotations

import json
import os
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession


class StageStore(Protocol):
    def write(self, name: str, df: DataFrame) -> DataFrame: ...
    def write_metrics(self, name: str, df: DataFrame) -> None: ...
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

    def write_metrics(self, name: str, df: DataFrame) -> None:
        df.write.mode("overwrite").parquet(
            os.path.join(self.warehouse, name, "_metrics")
        )

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

    def write_metrics(self, name: str, df: DataFrame) -> None:
        df.writeTo(self.location(f"{name}__metrics")).createOrReplace()

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

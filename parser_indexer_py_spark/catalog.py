"""Table I/O abstraction: Iceberg when a runtime catalog is configured,
partitioned Parquet + JSON snapshot manifest otherwise.

The north_rule targets Iceberg tables; this sandbox has no Iceberg runtime
jar (verified — SURVEY.md environment facts), so the engine programs against
this minimal interface and resolves the backend at session time:

- **Iceberg** (``spark-submit --packages org.apache.iceberg:iceberg-spark-
  runtime-<ver> --conf spark.sql.catalog.<name>=org.apache.iceberg.spark.
  SparkCatalog ...``): ``writeTo(table).append()`` / ``spark.read.table``;
  snapshot ids come from the table's metadata — commits are atomic (the
  analog of the reference's Solr commit, src/parserindexer/solr.py:97-104).
- **Parquet fallback**: directory per table, append via parquet writer,
  snapshot manifest (JSON) recording monotonically increasing snapshot ids
  with row counts — enough for the engine's resume/lineage logic to behave
  identically in both backends.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _partition_columns(path: str) -> list[str]:
    """Hive-style partition columns of a table directory, outermost
    first, read off its ``col=value`` directory names."""
    cols = []
    while True:
        sub = sorted(
            e for e in os.listdir(path)
            if "=" in e and not e.startswith(("_", "."))
            and os.path.isdir(os.path.join(path, e))
        )
        if not sub:
            return cols
        cols.append(sub[0].split("=", 1)[0])
        path = os.path.join(path, sub[0])


def iceberg_available(spark: SparkSession, catalog: str = "local") -> bool:
    try:
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    except Exception:  # noqa: BLE001
        impl = None
    return impl is not None and "iceberg" in impl.lower()


class TableCatalog:
    def __init__(self, spark: SparkSession, base_path: str, catalog: str = "local"):
        self.spark = spark
        self.base = base_path
        self.catalog = catalog
        self.use_iceberg = iceberg_available(spark, catalog)
        if not self.use_iceberg:
            os.makedirs(base_path, exist_ok=True)

    # -- paths / identifiers -------------------------------------------------
    def _ident(self, table: str) -> str:
        return f"{self.catalog}.db.{table}"

    def _path(self, table: str) -> str:
        return os.path.join(self.base, table)

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.base, f"{table}.snapshots.json")

    # -- operations ----------------------------------------------------------
    def append(self, df: DataFrame, table: str, partition_by: list[str] | None = None) -> int:
        """Append rows; returns the new snapshot id."""
        if self.use_iceberg:
            w = df.writeTo(self._ident(table))
            w.append()
            return self.snapshot_id(table)
        writer = df.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self._path(table))
        return self._commit(table, df.schema.json(), op="append")

    def overwrite(self, df: DataFrame, table: str, partition_by: list[str] | None = None) -> int:
        if self.use_iceberg:
            df.writeTo(self._ident(table)).createOrReplace()
            return self.snapshot_id(table)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self._path(table))
        return self._commit(table, df.schema.json(), op="overwrite")

    def _commit(self, table: str, schema_json: str, op: str) -> int:
        """Record a snapshot. IDs are MONOTONIC across appends, overwrites
        and truncations — matching Iceberg, where every operation creates
        a new, higher snapshot (round-2 review: resetting on
        overwrite/delete made resume/lineage consumers treat new data as
        already seen). The last schema is kept so a truncated table still
        reads as an empty, correctly-typed DataFrame."""
        snaps = self._read_manifest(table)
        sid = (snaps[-1]["id"] + 1) if snaps else 1
        snaps.append({"id": sid, "ts": time.time(), "op": op, "schema": schema_json})
        self._write_manifest(table, snaps)
        return sid

    def read(self, table: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.read.table(self._ident(table))
        path = self._path(table)
        snaps = self._read_manifest(table)
        schemas = [s["schema"] for s in snaps if s.get("schema")]
        schema = (
            T.StructType.fromJson(json.loads(schemas[-1])) if schemas else None
        )
        if os.path.isdir(path) and any(
            f.endswith(".parquet") or not f.startswith(("_", "."))
            for f in os.listdir(path)
        ):
            if schema is None:
                return self.spark.read.parquet(path)
            # the committed schema, partition columns last (the order
            # inference gives): no schema-inference job on every read
            parts = set(_partition_columns(path))
            return self.spark.read.schema(
                T.StructType(
                    [f for f in schema if f.name not in parts]
                    + [f for f in schema if f.name in parts]
                )
            ).parquet(path)
        # truncated (or never-written) table: empty DataFrame with the
        # last committed schema — Iceberg-read parity
        if schema is None:
            raise ValueError(f"table {table!r} does not exist in {self.base}")
        return self.spark.createDataFrame([], schema)

    def snapshot_id(self, table: str) -> int:
        if self.use_iceberg:
            row = self.spark.sql(
                f"SELECT snapshot_id FROM {self._ident(table)}.snapshots "
                "ORDER BY committed_at DESC LIMIT 1"
            ).head()
            return int(row["snapshot_id"]) if row else 0
        snaps = self._read_manifest(table)
        return snaps[-1]["id"] if snaps else 0

    def delete_all(self, table: str) -> None:
        """S11 analog: Solr delete-by-query *:* (docs/mte-samplequeries.md:
        103-106) == truncate."""
        if self.use_iceberg:
            self.spark.sql(f"DELETE FROM {self._ident(table)}")
            return
        import shutil

        snaps = self._read_manifest(table)
        last_schema = next(
            (s["schema"] for s in reversed(snaps) if s.get("schema")), None
        )
        shutil.rmtree(self._path(table), ignore_errors=True)
        # truncation is a NEW snapshot (id keeps increasing, like Iceberg's
        # DELETE); history is preserved, schema carried for empty reads
        sid = (snaps[-1]["id"] + 1) if snaps else 1
        snaps.append(
            {"id": sid, "ts": time.time(), "op": "truncate", "schema": last_schema}
        )
        self._write_manifest(table, snaps)

    # -- manifest ------------------------------------------------------------
    def _read_manifest(self, table: str) -> list[dict]:
        p = self._manifest_path(table)
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return []

    def _write_manifest(self, table: str, snaps: list[dict]) -> None:
        p = self._manifest_path(table)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(snaps, f)
        os.replace(tmp, p)

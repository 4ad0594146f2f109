"""Snapshot catalog: staged tables with idempotent checkpoint/resume.

Locally this is parquet directories with commit markers; on a cluster the
same interface maps 1:1 onto Iceberg tables (`writeTo(...).createOrReplace`
gives the atomic snapshot, `snapshotExists` becomes a catalog lookup).
The commit protocol here: write to `<name>.tmp`, fsync via Spark job
completion, atomic rename to `<name>`, then write the `_COMMITTED` marker.
A stage interrupted mid-write leaves only a tmp directory and is re-run on
resume; a committed stage is never recomputed (north_rule resumability).

Every commit also writes `_metrics/<table>.json`: the table name, the
write's wall_s, and total_rows, n_partitions and per-file row counts
(`partitions`) read from the parquet footers; `metrics()` reads them back.
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


class Catalog:
    def __init__(self, spark: SparkSession, root: str | Path):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    # -- paths ---------------------------------------------------------------
    def path(self, name: str) -> Path:
        return self.root / name

    def _marker(self, name: str) -> Path:
        return self.path(name) / "_COMMITTED"

    def exists(self, name: str) -> bool:
        return self._marker(name).exists()

    # -- io -------------------------------------------------------------------
    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(str(self.path(name)))

    def write(self, df: DataFrame, name: str, partition_by: list[str] | None = None) -> DataFrame:
        """Atomically materialize df as table `name`; returns the read-back DF."""
        final = self.path(name)
        tmp = self.root / f"{name}.tmp"
        if tmp.exists():
            shutil.rmtree(tmp)
        t0 = time.monotonic()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(str(tmp))
        if final.exists():
            shutil.rmtree(final)
        tmp.rename(final)
        self._record_metrics(name, time.monotonic() - t0)
        self._marker(name).touch()
        return self.read(name)

    def ensure(self, name: str, build, partition_by: list[str] | None) -> DataFrame:
        """Resume unit: return the committed table, or build+commit it."""
        if self.exists(name):
            return self.read(name)
        return self.write(build(), name, partition_by)

    # -- lineage / metrics ------------------------------------------------------
    def _record_metrics(self, name: str, wall_s: float) -> None:
        """Per-partition lineage rows from the parquet footers — file-level
        row counts are exact and cost zero Spark jobs."""
        import pyarrow.parquet as pq

        parts = {}
        for i, f in enumerate(sorted(self.path(name).rglob("*.parquet"))):
            try:
                parts[str(i)] = pq.ParquetFile(f).metadata.num_rows
            except Exception:
                parts[str(i)] = -1
        meta = {
            "table": name,
            "wall_s": round(wall_s, 3),
            "total_rows": int(sum(v for v in parts.values() if v > 0)),
            "n_partitions": len(parts),
            "partitions": parts,
        }
        metrics_dir = self.root / "_metrics"
        metrics_dir.mkdir(exist_ok=True)
        (metrics_dir / f"{name}.json").write_text(json.dumps(meta, indent=1))

    def metrics(self) -> dict[str, dict]:
        out = {}
        metrics_dir = self.root / "_metrics"
        if metrics_dir.exists():
            for p in sorted(metrics_dir.glob("*.json")):
                out[p.stem] = json.loads(p.read_text())
        return out

"""Lakehouse landing: snapshot checkpoints + MERGE INTO upserts.

The north rule lands payloads in an Iceberg table via MERGE INTO and
resumes crawls from Iceberg snapshot checkpoints. This container has no
Iceberg runtime jars, so this module implements the same contract on
plain parquet with Iceberg's commit discipline:

- **versioned snapshots**: every commit writes a new `v{N}` directory
  (immutable data files) and publishes it by writing `manifest.json`
  LAST via atomic rename — readers never see a half-written snapshot,
  exactly like Iceberg's metadata-pointer swap. Time travel = read any
  older vN.
- **schemas in the manifest**: like Iceberg's table metadata, every
  manifest records each table's Spark schema, so a read resolves its
  columns from the manifest instead of running a footer-inference Spark
  job per table. Manifests written before schemas were recorded still
  read, through inference.
- **MERGE INTO emulation**: copy-on-write upsert — target rows whose key
  appears in the batch are replaced, everything else re-written
  unchanged (Iceberg COW `MERGE INTO t USING b ON t.k = b.k WHEN
  MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT`).
- **filter state**: the URL-seen filter's shard bytes (the
  `seen_shards` blob, written under `use_bloom`) are stored inside the
  snapshot directory so a resume does not rescan history to rebuild
  membership state (SURVEY §7 M6). The engine ignores any other blob
  name a manifest lists.

On a real cluster, swap `SnapshotStore` for `df.writeTo(tbl)` /
`MERGE INTO` SQL against an Iceberg catalog; the engine call sites are
shaped for that (commit-per-round, key-equality merge).

Checkpoint key-format note: the seen/frontier tables key on the
CANONICAL url, and the canonical form is versioned by the code that
wrote it. Commit 7633a5d (round 6) tightened `canonicalize_one` into a
fixed point (trailing path-whitespace strip, '//'-path collapse,
output strip); a store written BEFORE that commit can hold old-form
keys no raw URL re-canonicalizes to, so a resumed crawl may re-crawl
those URLs once (correct going forward, no duplicates within a run).
Re-canonicalize the seen table offline when resuming a pre-round-6
store if that matters.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from volltextextraktion_selenium_md_spark.schemas import as_nullable


def _schema_json(df: DataFrame) -> dict:
    """The schema a parquet read of ``df``'s written files resolves to."""
    return as_nullable(df.schema).jsonValue()


def _read_parquet(
    spark: SparkSession, paths: list[str], schema: dict | None
) -> DataFrame:
    """Read with the manifest's schema (no inference job); a manifest
    without one falls back to inference."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(StructType.fromJson(schema))
    return reader.parquet(*paths)


class SnapshotStore:
    """Versioned snapshot directory: `<root>/v{N}/<table>.parquet` plus
    `<root>/v{N}/manifest.json` (written last, atomically)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- versions ----------------------------------------------------
    def versions(self) -> list[int]:
        out = []
        for name in os.listdir(self.root):
            if name.startswith("v") and name[1:].isdigit():
                if os.path.exists(os.path.join(self.root, name, "manifest.json")):
                    out.append(int(name[1:]))
        return sorted(out)

    def latest(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _vdir(self, version: int) -> str:
        return os.path.join(self.root, f"v{version}")

    # -- commit ------------------------------------------------------
    def commit(
        self,
        tables: dict[str, DataFrame],
        meta: dict,
        blobs: dict[str, bytes] | None = None,
    ) -> int:
        """Write all tables + blobs, then publish the manifest last."""
        version = (self.latest() or 0) + 1
        vdir = self._vdir(version)
        os.makedirs(vdir, exist_ok=True)
        written, schemas = [], {}
        for name, df in tables.items():
            path = os.path.join(vdir, f"{name}.parquet")
            df.write.mode("overwrite").parquet(path)
            written.append(name)
            schemas[name] = _schema_json(df)
        blob_names = []
        for name, raw in (blobs or {}).items():
            with open(os.path.join(vdir, f"{name}.bin"), "wb") as f:
                f.write(raw)
            blob_names.append(name)
        manifest = {"version": version, "tables": written, "blobs": blob_names,
                    "meta": meta, "schemas": schemas}
        fd, tmp = tempfile.mkstemp(dir=vdir, suffix=".json.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        os.rename(tmp, os.path.join(vdir, "manifest.json"))  # publish
        return version

    # -- read --------------------------------------------------------
    def manifest(self, version: int | None = None) -> dict:
        v = self.latest() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no snapshot under {self.root}")
        with open(os.path.join(self._vdir(v), "manifest.json")) as f:
            return json.load(f)

    def read(self, spark: SparkSession, name: str, version: int | None = None) -> DataFrame:
        v = self.latest() if version is None else version
        schema = self.manifest(v).get("schemas", {}).get(name)
        return _read_parquet(
            spark, [os.path.join(self._vdir(v), f"{name}.parquet")], schema
        )

    def read_blob(self, name: str, version: int | None = None) -> bytes:
        v = self.latest() if version is None else version
        with open(os.path.join(self._vdir(v), f"{name}.bin"), "rb") as f:
            return f.read()

    def expire_snapshots(self, keep_last: int = 2) -> None:
        """Iceberg `expireSnapshots` analogue: drop all but the newest K."""
        vs = self.versions()
        for v in vs[:-keep_last] if keep_last else vs:
            shutil.rmtree(self._vdir(v), ignore_errors=True)


class PartitionedTable:
    """Hash-partitioned MERGE INTO target with Iceberg commit discipline.

    Layout::

        <root>/data/_part=K/...-v{N}.parquet   immutable data dirs
        <root>/manifest-v{N}.json              partition -> data dir

    - rows hash to partition ``pmod(xxhash64(key), P)``; a merge
      REWRITES ONLY the partitions the batch touches (one Spark job,
      ``partitionBy`` staging write) — O(touched), not O(table), per
      commit. Untouched partitions keep their existing files
      byte-identical.
    - a commit publishes by writing the new manifest to a temp name and
      ``os.rename``-ing it into place — readers always resolve a fully
      written manifest; a crash mid-merge leaves the previous manifest
      live and only orphans staging files (single-writer discipline,
      like Iceberg's optimistic commit).
    """

    def __init__(self, root: str, key: str, num_partitions: int = 16):
        self.root = root
        self.key = key
        self.p = num_partitions
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # -- manifests -----------------------------------------------------
    def versions(self) -> list[int]:
        out = []
        for name in os.listdir(self.root):
            if name.startswith("manifest-v") and name.endswith(".json"):
                out.append(int(name[len("manifest-v"):-len(".json")]))
        return sorted(out)

    def latest(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def manifest(self, version: int | None = None) -> dict:
        v = self.latest() if version is None else version
        if v is None:
            return {"files": {}, "p": self.p}
        with open(os.path.join(self.root, f"manifest-v{v}.json")) as f:
            return json.load(f)

    # -- merge ----------------------------------------------------------
    def merge(self, spark: SparkSession, batch: DataFrame) -> list[int]:
        """MERGE INTO … ON t.key = b.key WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *. Returns the touched partitions."""
        from pyspark.sql import functions as F

        man = self.manifest()
        self.p = man.get("p", self.p)
        part = F.pmod(F.xxhash64(self.key), F.lit(self.p)).cast("int")
        batch = batch.withColumn("_part", part).localCheckpoint(eager=False)
        touched = sorted(
            r["_part"] for r in batch.select("_part").distinct().collect()
        )
        if not touched:
            return []
        version = (self.latest() or 0) + 1
        cur = [
            os.path.join(self.root, "data", man["files"][str(t)])
            for t in touched
            if str(t) in man["files"]
        ]
        if cur:
            # read ONLY the touched partitions; anti-join out updated keys
            tgt = _read_parquet(spark, cur, man.get("schema"))
            keep = tgt.join(
                batch.select(self.key).distinct(), on=self.key, how="left_anti"
            ).withColumn("_part", part)
            merged = keep.unionByName(
                batch.select(*tgt.columns, "_part")
            )
        else:
            merged = batch
        staging = os.path.join(self.root, f".staging-v{version}")
        merged.write.partitionBy("_part").mode("overwrite").parquet(staging)
        # crash-recovery sweep: a previous attempt at THIS version may
        # have renamed some data dirs into place and died before
        # publishing the manifest. Those `_part=K-v{version}` dirs are
        # unreferenced by construction (manifests only ever point at
        # dirs of their own, smaller, version) — remove them, or the
        # os.rename below would fail ENOTEMPTY and wedge the table.
        data_dir = os.path.join(self.root, "data")
        suffix = f"-v{version}"
        for name in os.listdir(data_dir):
            if name.endswith(suffix):
                shutil.rmtree(os.path.join(data_dir, name), ignore_errors=True)
        files = dict(man["files"])
        for t in touched:
            src = os.path.join(staging, f"_part={t}")
            dst_name = f"_part={t}-v{version}"
            if os.path.exists(src):
                os.rename(src, os.path.join(data_dir, dst_name))
                files[str(t)] = dst_name
        shutil.rmtree(staging, ignore_errors=True)
        new_man = {"files": files, "p": self.p, "version": version,
                   "key": self.key, "schema": _schema_json(merged.drop("_part"))}
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".json.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(new_man, f)
        os.rename(tmp, os.path.join(self.root, f"manifest-v{version}.json"))
        return touched

    # -- read -----------------------------------------------------------
    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame | None:
        man = self.manifest(version)
        if not man["files"]:
            return None
        paths = [os.path.join(self.root, "data", f) for f in man["files"].values()]
        return _read_parquet(spark, paths, man.get("schema")).drop("_part")

    def expire_versions(self, keep_last: int = 2) -> None:
        """Drop old manifests + any data dir no live manifest references."""
        vs = self.versions()
        for v in vs[:-keep_last] if keep_last else vs:
            os.remove(os.path.join(self.root, f"manifest-v{v}.json"))
        live = set()
        for v in self.versions():
            live.update(self.manifest(v)["files"].values())
        data = os.path.join(self.root, "data")
        for name in os.listdir(data):
            if name not in live:
                shutil.rmtree(os.path.join(data, name), ignore_errors=True)


def merge_into(
    spark: SparkSession,
    target_dir: str,
    batch: DataFrame,
    key: str,
    num_partitions: int = 16,
) -> int:
    """Partition-scoped MERGE INTO upsert (see PartitionedTable).
    Returns the number of touched partitions (a cheap commit receipt —
    counting the whole table after every merge would defeat the
    partition-scoped commit)."""
    t = PartitionedTable(target_dir, key, num_partitions)
    return len(t.merge(spark, batch))


def read_merged(spark: SparkSession, target_dir: str, key: str) -> DataFrame | None:
    """Read the current snapshot of a merge_into target."""
    return PartitionedTable(target_dir, key).read(spark)

"""Table IO + checkpoint/resume layer (SURVEY.md §2.1 S1/S4/S5).

The production target is Iceberg (north_rule); this sandbox ships no Iceberg
runtime jar (SURVEY.md §0 [ENV]), so the layer is format-abstract:
`format="iceberg"` uses DataFrameWriterV2 `writeTo` when the jar is on the
cluster classpath; the parquet fallback writes a directory + `_manifest.json`
and is what all tests/bench use. Pipeline code only calls these functions,
never a hardcoded format.

Checkpoint contract (north_rule: resumable stages): a stage is done iff its
manifest exists and records, under `after`, the current `version` of each
stage it was built from. Every commit (`materialize`; `append`, even of 0
rows) writes data, then atomically replaces the manifest with a fresh
version, so a killed job redoes uncommitted work (idempotent overwrite) and
every stage built from an older upstream version recomputes on resume.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


def read_table(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(path)
    return spark.read.parquet(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
    compression: str | None = None,
) -> None:
    if fmt == "iceberg":
        w = df.writeTo(path)
        if partition_cols:
            from pyspark.sql import functions as F

            w = w.partitionedBy(*[F.col(c) for c in partition_cols])
        w.createOrReplace()
        return
    writer = df.write.mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a BUCKETED managed table — the co-located-join layout for
    keys two big tables join on repeatedly (nodes⋈edges, triples⋈triples
    on subj): both sides hash-partitioned into the same n_buckets files
    AT WRITE TIME, so every later equi-join on the bucket key plans with
    ZERO Exchange on either side (plan-asserted in tests/test_plans.py)
    — the shuffle is paid once at ingest instead of per query, the
    single biggest repeated-join saving at 100 TB. sort_cols additionally
    pre-sorts within buckets, turning the join's per-partition sort into
    a no-op.

    Bucketing requires the session catalog (`saveAsTable` — bucket
    metadata lives in the table, not the files), which is why this is a
    TABLE api while everything else here is path-based; on the Iceberg
    production target the same layout is `bucket(n, col)` partition
    transforms. n_buckets sizes like shuffle partitions: ~2x the
    cluster's cores, bounded by per-bucket file size."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def compact_table(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 << 20,
    compression: str = "zstd",
) -> dict:
    """Small-file compaction — the table-maintenance op every streaming
    sink and incremental-append table needs (each micro-batch/delta
    writes its own files; thousands of tiny files turn every later scan
    into an open()-bound crawl and blow the driver's file-listing
    memory at 10^12-row scale). Rewrites the directory into
    ceil(bytes/target) files via a ROUND-ROBIN repartition (no shuffle
    key — pure rebalance, every output file the same size regardless of
    data skew), then commits by atomic directory swap: readers see the
    old layout or the new one, never a mix; the pre-swap directory is
    left beside the table as `<path>.pre-compact` until the caller
    drops it (the crash-safety window).

    Returns {files_before, files_after, bytes}. On Iceberg the same op
    is rewrite_data_files; this is the path-table form."""
    files = [
        f for f in os.listdir(path)
        if f.endswith(".parquet") or f.startswith("part-")
    ]
    total = sum(os.path.getsize(os.path.join(path, f)) for f in files)
    n_out = max(1, -(-total // target_bytes))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + ".compact-tmp"
    (
        df.repartition(int(n_out))
        .write.mode("overwrite")
        .option("compression", compression)
        .parquet(tmp)
    )
    pre = path.rstrip("/") + ".pre-compact"
    if os.path.exists(pre):
        import shutil

        shutil.rmtree(pre)
    os.replace(path, pre)
    os.replace(tmp, path)
    after = len([
        f for f in os.listdir(path)
        if f.endswith(".parquet") or f.startswith("part-")
    ])
    return {
        "files_before": len(files),
        "files_after": after,
        "bytes": total,
    }


class Checkpointer:
    """Stage-boundary persistence with resume detection."""

    def __init__(self, spark: SparkSession, root: str, fmt: str = "parquet"):
        self.spark = spark
        self.root = root
        self.fmt = fmt
        os.makedirs(root, exist_ok=True)

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _manifest(self, stage: str) -> str:
        return os.path.join(self.root, f"{stage}._manifest.json")

    def _load(self, stage: str) -> dict | None:
        try:
            with open(self._manifest(stage)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _versions(self, stages: tuple[str, ...]) -> dict[str, str | None]:
        return {s: (self._load(s) or {}).get("version") for s in stages}

    def _write(self, df: DataFrame, stage: str, mode: str) -> int:
        """Write the stage's data; the row count rides on the write job via
        the Observation API — no separate count scan per stage."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        # zstd: checkpoints are write-once read-few; smaller files beat
        # snappy's decode speed when the bottleneck is storage bandwidth
        write_table(df.observe(obs, F.count(F.lit(1)).alias("rows")),
                    self._dir(stage), self.fmt, mode=mode, compression="zstd")
        return obs.get["rows"]

    def _commit(self, stage: str, manifest: dict) -> None:
        """Stamp a fresh version and atomically replace the manifest."""
        manifest["version"] = uuid.uuid4().hex
        tmp = self._manifest(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest(stage))

    def is_done(self, stage: str, after: tuple[str, ...] = ()) -> bool:
        m = self._load(stage)
        return m is not None and m.get("after", {}) == self._versions(after)

    def read(self, stage: str) -> DataFrame:
        return read_table(self.spark, self._dir(stage), self.fmt)

    def materialize(self, df: DataFrame, stage: str, wall_ms: float | None = None,
                    after: tuple[str, ...] = ()) -> DataFrame:
        """Write stage output built from the stages `after`, then commit;
        returns the re-read DataFrame (truncates lineage — the Spark-batch
        analogue of a streaming checkpoint)."""
        t0 = time.time()
        built_from = self._versions(after)
        n = self._write(df, stage, "overwrite")
        out = self.read(stage)
        self._commit(stage, {
            "stage": stage,
            "rows": n,
            "schema": out.schema.jsonValue(),
            "format": self.fmt,
            "wall_ms": wall_ms if wall_ms is not None else (time.time() - t0) * 1000.0,
            "after": built_from,
        })
        return out

    def run_stage(self, stage: str, fn, *inputs: DataFrame,
                  after: tuple[str, ...] = ()) -> tuple[DataFrame, bool]:
        """Read back when done, else compute + materialize; returns
        (output, whether it was computed)."""
        if self.is_done(stage, after):
            return self.read(stage), False
        t0 = time.time()
        df = fn(*inputs)
        return self.materialize(df, stage, (time.time() - t0) * 1000.0, after), True

    def append(self, df: DataFrame, stage: str) -> int:
        """Delta-ingest append into a completed stage: the write job commits
        atomically (files appear only on job commit), then the manifest
        commits the bumped row count under a fresh version. Returns rows
        appended. Idempotent under kill: un-committed appends leave no
        files, and the caller's anti-join derives the delta from the data
        actually present, not the manifest."""
        if self.fmt != "parquet":
            # appending raw parquet files into e.g. an Iceberg table location
            # would corrupt it; route non-parquet formats explicitly when the
            # runtime ships the jar
            raise NotImplementedError(
                f"Checkpointer.append supports fmt='parquet' only, got {self.fmt!r}"
            )
        n_new = self._write(df, stage, "append")
        manifest = self._load(stage)
        manifest["rows"] += n_new
        manifest["appends"] = manifest.get("appends", 0) + 1
        self._commit(stage, manifest)
        return n_new


def read_evolved(
    spark: SparkSession, path: str, schema_ddl: str | None = None
) -> DataFrame:
    """Schema-evolution read — the ingest reality a long-lived crawl
    table lives with: shards written months apart carry different
    column sets (a `lang` column added in epoch 2, `quality` in epoch
    3). `mergeSchema` makes the parquet footer union the read schema,
    so old shards surface the new columns as NULL instead of failing
    the scan or silently dropping them (plain parquet reads take ONE
    footer's schema — whichever file lists first — and epoch-1 readers
    would never see epoch-2 columns).

    Pass `schema_ddl` to PIN the contract schema instead: absent
    columns still come back NULL, but renamed/retyped columns fail
    loudly at analysis instead of fanning garbage downstream — the
    posture a production pipeline wants once the schema is governed
    (Iceberg does this with real column-id evolution; mergeSchema is
    the parquet-directory equivalent, documented trade: a full-footer
    listing per read, so pin the schema on 10^6-file tables)."""
    r = spark.read.option("mergeSchema", "true")
    if schema_ddl is not None:
        from pyspark.sql.types import StructType

        pinned = StructType.fromDDL(schema_ddl)
        return spark.read.schema(pinned).parquet(path)
    return r.parquet(path)

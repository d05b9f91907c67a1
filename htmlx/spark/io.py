"""Table IO seam: atomic-commit appends + checkpoint/resume.

SURVEY.md §2.3/§7.5: on a real cluster this is an Iceberg catalog —
``writeTo(table).append()`` per snapshot, resume by querying committed
snapshot summaries. The Iceberg runtime jar is not available offline in this
sandbox, so the same contract is implemented as Parquet subdirectories plus a
JSON manifest of committed group ids; the seam (``ParquetTableIO``) keeps
both implementations interchangeable.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

_INFER_KEY = "spark.sql.sources.partitionColumnTypeInference.enabled"


class ParquetTableIO:
    """Parquet + manifest implementation of the commit/resume contract.

    Layout:
      <root>/data/run_id=<rid>/group=<gid>/*.parquet
      <root>/_manifest.json     {"committed": {run_id: [gid, ...]}}

    Partitioning by (run_id, group) — not group alone — is what makes the
    manifest's per-run commit bookkeeping true on disk: a dynamic-partition
    overwrite only ever replaces THIS run's group dirs, so multiple run_ids
    coexist in one table root without a later run deleting rows whose
    manifests still claim them committed.
    """

    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.manifest_path = os.path.join(root, "_manifest.json")
        os.makedirs(self.data_dir, exist_ok=True)

    # -- manifest ----------------------------------------------------------
    def _read_manifest(self) -> dict:
        if not os.path.exists(self.manifest_path):
            return {"committed": {}}
        with open(self.manifest_path) as f:
            return json.load(f)

    def _write_manifest(self, manifest: dict) -> None:
        tmp = self.manifest_path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self.manifest_path)  # atomic on POSIX

    def committed_groups(self, run_id: str) -> set[int]:
        return set(self._read_manifest()["committed"].get(run_id, []))

    def _commit_groups(self, run_id: str, group_ids) -> None:
        manifest = self._read_manifest()
        groups = set(manifest["committed"].get(run_id, []))
        groups.update(int(g) for g in group_ids)
        manifest["committed"][run_id] = sorted(groups)
        self._write_manifest(manifest)

    # -- append ------------------------------------------------------------
    def append_groups(self, df: DataFrame, run_id: str, group_ids) -> None:
        """Write MANY groups in one pass — df must carry `run_id` and
        `group` columns.

        One `partitionBy("run_id", "group")` write (dynamic partition
        overwrite: only this run's touched group dirs are replaced; other
        runs' dirs and this run's committed dirs stay intact), then ONE
        manifest commit covering them all. This is the Iceberg
        single-append-snapshot analogue: the input is scanned once for N
        groups instead of once per group. A failure before the manifest
        write leaves every group in the pass uncommitted; resume redoes the
        pass (partial dirs are overwritten), so exactly-once output still
        holds — the resume granularity is the pass, not the group."""
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("run_id", "group")
            .parquet(self.data_dir)
        )
        self._commit_groups(run_id, group_ids)

    def _reject_legacy_layout(self) -> None:
        """The pre-round-3 layout was data/group=<gid> (no run_id level).
        A committed manifest over such a root would skip extraction while
        read() globs run_id=*/group=* and silently finds ZERO rows — fail
        loudly instead of returning an empty result."""
        legacy = [
            e for e in os.listdir(self.data_dir) if e.startswith("group=")
        ]
        if legacy:
            raise RuntimeError(
                f"legacy table layout under {self.data_dir}: {legacy[:3]}... "
                "predates run_id partitioning — re-create the table root "
                "(or move each group dir under data/run_id=<rid>/)"
            )

    def read(self, spark: SparkSession) -> DataFrame:
        # Partition-dir values come back as columns; type inference must be
        # off while loading or an all-digit run_id dir would be read as a
        # number (dropping leading zeros). group's long type is restored
        # explicitly — the table schema contract, not directory guesswork.
        self._reject_legacy_layout()
        old = spark.conf.get(_INFER_KEY, "true")
        spark.conf.set(_INFER_KEY, "false")
        try:
            df = spark.read.option("basePath", self.data_dir).parquet(
                os.path.join(self.data_dir, "run_id=*", "group=*")
            )
        finally:
            spark.conf.set(_INFER_KEY, old)
        return df.withColumn("group", F.col("group").cast("long"))


def group_bucket(num_groups: int):
    """Deterministic url-hash bucket column (JVM-side, no Python roundtrip)."""
    return F.pmod(F.xxhash64(F.col("url"), F.lit("htmlx-group")), F.lit(num_groups))


def run_with_resume(
    spark: SparkSession,
    pages: DataFrame,
    out: ParquetTableIO,
    metrics_out: ParquetTableIO | None,
    run_id: str,
    num_groups: int = 8,
    config=None,
    partitions_per_group: int | None = None,
    audit_out: ParquetTableIO | None = None,
    doc_counter=None,
):
    """Checkpointed extraction run (SURVEY.md §7.5), single-scan.

    Work is divided into url-hash buckets 0..num_groups-1. All uncommitted
    groups are processed in ONE pass: one scan of the input (a single
    `group IN (pending)` predicate instead of a scan per group), one
    extraction of each document, one partitioned write, one manifest
    commit. On restart with the same run_id, committed groups are skipped
    and only pending ones are rescanned/redone.

    Metrics and audit tables are DERIVED from the results just written
    (column-pruned read-back of the thin lineage columns), so enabling
    them adds zero extra extraction work and zero extra input scans.

    Each derived table keeps its OWN pending set: a crash after the results
    commit but before the metrics/audit commit leaves those groups
    results-committed yet metrics/audit-uncommitted, and on resume they are
    re-derived from the already-written results (no re-extraction) — the
    exactly-once contract covers all three tables, not just results.
    """
    from ..core.extract import Config
    from .job import derive_audit, derive_metrics, run_extraction

    config = config or Config()
    done = out.committed_groups(run_id)
    pending = [g for g in range(num_groups) if g not in done]
    if pending:
        bucket = group_bucket(num_groups)
        work = pages.where(bucket.isin(pending)) if done else pages
        num_partitions = partitions_per_group * len(pending) if partitions_per_group else None
        collect_audit = config.audit_enabled or audit_out is not None
        results = run_extraction(
            work, config, run_id, num_partitions,
            with_audit=collect_audit, doc_counter=doc_counter,
        )
        # recompute the bucket on the result rows (same deterministic hash)
        results = results.withColumn("group", bucket)
        out.append_groups(results, run_id, pending)

    for table, derive in (
        (metrics_out, "metrics"),
        (audit_out, "audit"),
    ):
        if table is None:
            continue
        todo = sorted(set(range(num_groups)) - table.committed_groups(run_id))
        if not todo:
            continue
        # derive from the WRITTEN results: pruned scan of thin columns,
        # zero re-extraction and zero extra scans of the input table
        written = out.read(spark).where(
            (F.col("run_id") == run_id) & F.col("group").isin(todo)
        )
        if derive == "metrics":
            # keyed by (run_id, partition_id, group): the metrics write
            # touches exactly the pending group dirs, so a later resume
            # pass can never clobber an already-committed group's rows
            rows = derive_metrics(
                written.select(
                    "run_id",
                    "partition_id",
                    "group",
                    "error",
                    "input_bytes",
                    "processing_time_us",
                    "audit",
                ),
                extra_keys=("group",),
            )
        else:
            rows = derive_audit(written).withColumn("group", group_bucket(num_groups))
        table.append_groups(rows, run_id, todo)
    return out.read(spark)

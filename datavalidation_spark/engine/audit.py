"""Audit table + partition-grain checkpoint/resume (north_rule:
"resumable from checkpoint with per-partition lineage + metrics").

Layout (default backend = Iceberg-style atomic manifest commits,
``engine/acid.py`` — swap for a real Iceberg/Delta catalog in production
behind the same AuditLog interface):

    <audit_dir>/verdicts/    one row per (run_id, part_id): lineage + metrics
    <audit_dir>/violations/  violation rows (+ run_id)
    <audit_dir>/_commits/    atomic commit manifests (manifest backend)

Resume = filter the input's partition ids against already-recorded
verdicts for the same (rule_version, snapshot_id) — an application-level
partition filter (SURVEY.md §4 "custom rules actually needed" (b)) that
Spark prunes at the scan of a partitioned input, so a killed job never
recomputes or rereads a validated partition.

Lineage columns per verdict: run_id, rule_version, snapshot_id (caller-
provided source snapshot, e.g. Iceberg snapshot-id), input_manifest (source
path), validated_at.
"""

from __future__ import annotations

import os
import time

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from datavalidation_spark.engine.validate import (
    ValidationResult,
    partition_verdicts,
    validate_documents,
)


class AuditLog:
    """Audit sink with two backends:

    * ``backend="manifest"`` (default) — Iceberg-style atomic commits via
      :class:`~datavalidation_spark.engine.acid.ManifestLog`: verdicts AND
      violations of a run become visible in ONE filesystem-atomic step, so a
      mid-record crash can never leave violations without their verdicts
      (ADVICE r1 atomicity fix).
    * ``backend="parquet"`` — plain append dirs (round-1 layout, kept for
      compatibility). Verdicts are written LAST (resume-safe ordering) and
      :meth:`read_violations` reconciles against recorded verdicts so
      orphaned rows from a crash are filtered at read time instead of
      double-counting after the resume re-validates.
    """

    def __init__(
        self, audit_dir: str, backend: str = "manifest", compact_every: int = 64
    ):
        from datavalidation_spark.engine.acid import ManifestLog

        if backend not in ("manifest", "parquet"):
            raise ValueError(f"unknown audit backend: {backend}")
        self.audit_dir = audit_dir
        self.backend = backend
        self.compact_every = compact_every
        self.verdicts_path = os.path.join(audit_dir, "verdicts")
        self.violations_path = os.path.join(audit_dir, "violations")
        self.manifest = ManifestLog(audit_dir)

    def _read_verdicts(self, spark: SparkSession) -> DataFrame | None:
        if self.backend == "manifest":
            return self.manifest.read(spark, "verdicts")
        try:
            df = spark.read.parquet(self.verdicts_path)
            df.limit(1).collect()
            return df
        except Exception:
            return None

    def validated_partitions(
        self, spark: SparkSession, rule_version: str, snapshot_id: str
    ) -> DataFrame | None:
        """part_ids already validated for this (rule_version, snapshot)."""
        v = self._read_verdicts(spark)
        if v is None:
            return None
        return (
            v.where(
                (F.col("rule_version") == rule_version)
                & (F.col("snapshot_id") == snapshot_id)
            )
            .select("part_id")
            .distinct()
        )

    def read_violations(self, spark: SparkSession) -> DataFrame | None:
        """Committed violation rows, consistent with verdicts.

        Manifest backend: trivially consistent (atomic commits). Parquet
        backend: semi-join on (run_id, part_id) pairs present in verdicts —
        rows from a run that crashed before its verdict write are dropped,
        so reports never double-count after resume."""
        if self.backend == "manifest":
            return self.manifest.read(spark, "violations")
        try:
            # mergeSchema: a round-1 dir appended to by upgraded code holds
            # files with AND without run_id — plain reads take the schema
            # from ONE sampled footer (nondeterministic across sessions);
            # merging guarantees run_id surfaces whenever any file has it,
            # with legacy rows as NULL handled per-row below
            viol = spark.read.option("mergeSchema", "true").parquet(
                self.violations_path
            )
            viol.limit(1).collect()
        except Exception:
            return None
        verd = self._read_verdicts(spark)
        if verd is None:
            return viol.limit(0)
        if "run_id" not in viol.columns:
            # all-legacy (round-1) violations parquet carries no run_id
            # column — reconcile on part_id alone so pre-existing audit
            # dirs stay readable (ADVICE r2 low #2).
            return viol.join(
                F.broadcast(verd.select("part_id").distinct()),
                ["part_id"],
                "left_semi",
            )
        # MIXED dirs (legacy files + post-upgrade appends): schema inference
        # takes run_id from a sampled new footer and legacy rows surface
        # with run_id NULL — a (run_id, part_id) semi-join would silently
        # drop every pre-upgrade violation, so reconcile per ROW: NULL
        # run_id rows on part_id alone, stamped rows on the full key.
        modern = viol.where(F.col("run_id").isNotNull()).join(
            F.broadcast(verd.select("run_id", "part_id").distinct()),
            ["run_id", "part_id"],
            "left_semi",
        )
        legacy = viol.where(F.col("run_id").isNull()).join(
            F.broadcast(verd.select("part_id").distinct()),
            ["part_id"],
            "left_semi",
        )
        return modern.unionByName(legacy)

    def record(
        self,
        result: ValidationResult,
        run_id: str,
        rule_version: str,
        snapshot_id: str,
        input_manifest: str,
        run_ts: float | None = None,
    ) -> int:
        """Record verdicts (with lineage) and violations for one run and
        return the number of verdict rows (partitions) written.

        ``result.verdicts`` aggregates ``result.violations``, so writing
        both as they are would compute the whole validation plan (rules,
        the global duplicate scan, the referential anti-join) twice. The
        manifest backend writes the violations first, rebalanced so AQE
        sizes the output files from the data, and then aggregates the
        verdicts from those staged files (read with their known schema)
        and the docs' per-partition row counts: the plan runs once and
        nothing is cached. Both tables are published in one commit whose
        meta carries ``num_partitions`` and ``num_violations``, counted by
        observations during the two writes, with no extra job.

        The parquet backend appends the violations and then the verdicts
        (verdicts last, see :meth:`read_violations`) with the violations
        persisted for the two writes; a cache the caller already holds on
        them is left in place."""
        ts = run_ts if run_ts is not None else time.time()
        lineage = {
            "run_id": run_id,
            "rule_version": rule_version,
            "snapshot_id": snapshot_id,
            "input_manifest": input_manifest,
            "validated_at": ts,
        }
        lineage_cols = {k: F.lit(v) for k, v in lineage.items()}
        n_rows = F.count(F.lit(1)).alias("n")
        n_violations, n_partitions = Observation(), Observation()
        violations = result.violations.withColumn("run_id", F.lit(run_id))
        if self.backend == "manifest":
            self.manifest.commit(
                {
                    "violations": violations.hint("rebalance").observe(
                        n_violations, n_rows
                    ),
                    "verdicts": lambda staged: partition_verdicts(
                        result.docs, staged["violations"], result.partition_col
                    )
                    .withColumns(lineage_cols)
                    .observe(n_partitions, n_rows),
                },
                meta=lambda: {
                    **lineage,
                    "num_partitions": n_partitions.get["n"],
                    "num_violations": n_violations.get["n"],
                },
            )
            # keep metadata reads O(1) for long-lived audit tables: fold
            # accumulated commit files into a checkpoint once enough pile up
            if (
                self.compact_every
                and len(self.manifest._commit_seqs()) >= self.compact_every
            ):
                self.manifest.compact()
            return n_partitions.get["n"]
        owned = result.violations.storageLevel == StorageLevel.NONE
        if owned:
            result.violations.persist()
        try:
            violations.write.mode("append").partitionBy("part_id").parquet(
                self.violations_path
            )
            result.verdicts.withColumns(lineage_cols).observe(
                n_partitions, n_rows
            ).write.mode("append").parquet(self.verdicts_path)
        finally:
            if owned:
                result.violations.unpersist()
        return n_partitions.get["n"]


def write_report(
    violations: DataFrame, path: str, fmt: str = "csv", coalesce: int | None = 1
) -> None:
    """Human-facing violation report (reference S9: ``all_results.to_csv``
    download, ``streamlit_app.py:150-151``) — csv/parquet/json sink.

    ``coalesce=1`` mirrors the single-file download artifact; pass None to
    keep the natural partitioning for big reports.
    """
    df = violations.coalesce(coalesce) if coalesce else violations
    df.write.mode("overwrite").option("header", "true").format(fmt).save(path)


def _not_in(col: Column, values: list) -> Column:
    """``col`` is not among ``values``, with NULL matching NULL. Plain
    ``NOT IN`` (and an anti-join) never matches a NULL ``col``, which
    would leave a NULL partition pending forever."""
    keep = ~col.isin([v for v in values if v is not None])
    return col.isNotNull() & keep if None in values else col.isNull() | keep


def run_resumable(
    spark: SparkSession,
    docs: DataFrame,
    audit_dir: str,
    run_id: str,
    rule_version: str = "v1",
    snapshot_id: str = "snap0",
    input_manifest: str = "",
    asset_catalog: DataFrame | None = None,
    partition_col: str = "part_id",
    only_partitions: list | None = None,
    backend: str = "manifest",
    extra_rules: list | None = None,
) -> int:
    """Validate only partitions not yet recorded; append to audit.

    Returns the number of partitions validated this run (0 = nothing to
    do), as counted by the commit's verdict write (a NULL partition is one).
    The part_ids already validated are collected on the driver once (at
    most one row per input partition) and removed with a static, NULL-safe
    ``NOT IN`` filter. When the input is a file source partitioned by
    ``partition_col``, Spark applies that filter as a partition filter, so
    the scans of every job of the plan skip the validated partitions'
    files. A NULL partition is recorded once and skipped after that.

    Uniqueness remains GLOBAL across resumes: the dup scan always covers the
    full ``docs`` table (doc_id column only), so a duplicate pair straddling
    a validated/pending boundary is flagged in whichever partition is
    pending. ``only_partitions`` caps this run to a partition subset
    (operational throttle; also how tests simulate a mid-job kill).
    """
    audit = AuditLog(audit_dir, backend=backend)
    done = audit.validated_partitions(spark, rule_version, snapshot_id)
    pending = docs
    if done is not None:
        done_ids = [r[0] for r in done.collect()]
        pending = docs.where(_not_in(F.col(partition_col), done_ids))
    if only_partitions is not None:
        pending = pending.where(F.col(partition_col).isin(only_partitions))

    if pending.isEmpty():
        return 0

    result = validate_documents(
        pending,
        asset_catalog=asset_catalog,
        extra_rules=extra_rules,
        partition_col=partition_col,
        unique_scope=docs,
    )
    return audit.record(result, run_id, rule_version, snapshot_id, input_manifest)

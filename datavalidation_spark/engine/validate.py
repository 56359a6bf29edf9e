"""End-to-end validation pipeline over the interleaved-document table.

Plan shape (SURVEY.md §4): pruned scan → row-local rule expressions
(whole-stage codegen, zero Python) → [uniqueness: 2-phase salted agg]
→ [referential: distinct refs ⟕̸ broadcast catalog] → union violations →
per-partition verdict aggregation. Two shuffles total (uniqueness agg,
verdict agg); the row-local rules add none.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datavalidation_spark.engine.spans import span_rules
from datavalidation_spark.engine.uniqueness import duplicate_keys
from datavalidation_spark.rules.core import Rule, annotate

VIOLATION_SCHEMA_COLS = ("doc_id", "part_id", "rule_id", "severity", "remarks")

# static-estimate ceiling for forcing a broadcast join (matches Spark's
# autoBroadcastJoinThreshold default)
BROADCAST_THRESHOLD = 10 << 20


def _size_aware(df: DataFrame, threshold: int) -> DataFrame:
    """Leave the broadcast decision to Catalyst + AQE (VERDICT r3 #8).

    History: round 2 hinted unconditionally (an adversarial billion-row
    side would OOM the executors); round 3 replicated Catalyst's static
    size check through the private ``_jdf.queryExecution()`` API. Both were
    redundant: Catalyst's static planning already broadcasts any side whose
    size estimate fits under ``spark.sql.autoBroadcastJoinThreshold``
    (scans from file stats, aggregates from conservative child-derived
    bounds — measured identical decisions on every shape in
    test_join_strategy.py), and AQE converts a shuffle join to broadcast
    at runtime when the ACTUAL bytes turn out small. Returning the frame
    unhinted is therefore both the public-API shape and the adaptive one.

    ``threshold`` is kept for API compatibility; tune the session-level
    ``spark.sql.autoBroadcastJoinThreshold`` conf to move the cutoff."""
    return df


@dataclass
class ValidationResult:
    violations: DataFrame  # (doc_id, part_id, rule_id, severity, remarks)
    verdicts: DataFrame    # (part_id, row_count, violation_count, violating_rows, passed)


def validate_documents(
    docs: DataFrame,
    asset_catalog: DataFrame | None = None,
    extra_rules: list[Rule] | None = None,
    check_unique: bool = True,
    partition_col: str = "part_id",
    unique_scope: DataFrame | None = None,
    broadcast_threshold: int = BROADCAST_THRESHOLD,
) -> ValidationResult:
    """Run the full span-rule catalog (+ uniqueness + referential) and emit
    violations + per-partition verdicts (BASELINE.json north_rule).

    ``unique_scope``: uniqueness is a GLOBAL invariant — when ``docs`` is a
    partition subset (resume), pass the full table here so duplicates that
    straddle the validated/pending boundary are still counted; violations
    are attributed only to rows present in ``docs``. The scope scan reads
    only (doc_id) — cheap even when the subset is small.
    """
    rules = span_rules("spans") + list(extra_rules or [])

    ann = annotate(docs, rules, out="_v")

    row_viol = ann.select(
        "doc_id", partition_col, F.explode("_v").alias("_x")
    ).select("doc_id", partition_col, "_x.rule_id", "_x.severity", "_x.remarks")

    parts: list[DataFrame] = [row_viol]

    if check_unique:
        dups = duplicate_keys(unique_scope if unique_scope is not None else docs, "doc_id")
        dup_viol = docs.join(_size_aware(dups, broadcast_threshold), "doc_id", "inner").select(
            "doc_id",
            F.col(partition_col),
            F.lit("DUP-DOC-ID").alias("rule_id"),
            F.lit("error").alias("severity"),
            F.format_string(
                "doc_id appears %d times; expected unique", F.col("dup_count")
            ).alias("remarks"),
        )
        parts.append(dup_viol)

    if asset_catalog is not None:
        # carry part_id through the explode so verdicts attribute correctly.
        # spans.media_ref (direct nested-field extraction, not a HOF) lets
        # parquet nested-schema pruning read ONLY the media_ref leaf column.
        refs = docs.select(
            "doc_id",
            partition_col,
            F.explode(
                F.filter(F.col("spans.media_ref"), lambda r: r.isNotNull())
            ).alias("media_ref"),
        )
        # anti-join BEFORE the distinct (r6): the catalog probe is map-side
        # (broadcast), so filtering to dangling refs first shrinks the
        # distinct's exchange by the catalog hit rate (~100× here — only
        # ~1% of refs dangle). distinct∘filter ≡ filter∘distinct for a
        # per-row predicate, so the violation set is unchanged.
        dangling = refs.join(
            _size_aware(asset_catalog.select("media_ref"), broadcast_threshold),
            "media_ref",
            "left_anti",
        ).distinct().select(
            "doc_id",
            F.col(partition_col),
            F.lit("REF-DANGLING").alias("rule_id"),
            F.lit("error").alias("severity"),
            F.format_string(
                "media_ref %s not found in asset catalog", F.col("media_ref")
            ).alias("remarks"),
        )
        parts.append(dangling)

    violations = parts[0]
    for p in parts[1:]:
        violations = violations.unionByName(p)

    per_part_viol = violations.groupBy(partition_col).agg(
        F.count(F.lit(1)).alias("violation_count"),
        F.countDistinct("doc_id").alias("violating_rows"),
    )
    verdicts = (
        docs.groupBy(partition_col)
        .agg(F.count(F.lit(1)).alias("row_count"))
        .join(per_part_viol, partition_col, "left")
        .select(
            partition_col,
            "row_count",
            F.coalesce("violation_count", F.lit(0)).alias("violation_count"),
            F.coalesce("violating_rows", F.lit(0)).alias("violating_rows"),
            (F.coalesce("violation_count", F.lit(0)) == 0).alias("passed"),
        )
    )
    return ValidationResult(violations=violations, verdicts=verdicts)

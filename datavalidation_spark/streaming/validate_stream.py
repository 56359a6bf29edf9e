"""Structured-Streaming validation.

The reference is strictly batch (click-driven, ``streamlit_app.py:52``);
streaming is a target-capability extension: the same rule catalog compiled
over a ``readStream`` source, violations appended to the audit sink
continuously.

Because the rules are plain Column expressions, the SAME catalog objects
compile onto a streaming DataFrame unchanged — zero rule rewrites between
batch and streaming (that is the point of the declarative layer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datavalidation_spark.engine.spans import span_rules
from datavalidation_spark.rules.core import Rule, annotate


def stream_violations(
    stream_df: DataFrame,
    rules: list[Rule] | None = None,
    entity_cols: list[str] | None = None,
) -> DataFrame:
    """Violation stream: one row per (doc, fired rule). Stateless map — no
    watermark needed; runs in any output mode."""
    rules = rules if rules is not None else span_rules("spans")
    entity_cols = entity_cols or ["doc_id", "part_id"]
    ann = annotate(stream_df, rules, out="_v")
    return ann.select(*entity_cols, F.explode("_v").alias("_x")).select(
        *entity_cols, "_x.rule_id", "_x.severity", "_x.remarks"
    )


def run_file_stream(
    spark,
    input_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    schema,
    rules: list[Rule] | None = None,
) -> "object":
    """File-source → violations → parquet sink, exactly-once via checkpoint.
    ``availableNow`` trigger: drain everything present, then stop — the
    streaming analog of the batch resumable runner."""
    src = spark.readStream.schema(schema).parquet(input_dir)
    viol = stream_violations(src, rules)
    return (
        viol.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )

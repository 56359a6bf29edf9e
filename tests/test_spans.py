"""Span-rule engine tests: HOF path vs the pandas-UDF oracle, clean vs dirty
generators, uniqueness, referential, verdicts, and span-sequence equality."""

from __future__ import annotations

from pyspark.sql import functions as F

from datavalidation_spark.datagen import synth_asset_catalog, synth_documents
from datavalidation_spark.engine.spans import (
    SPAN_RULE_IDS,
    span_fingerprint,
    span_rules,
)
from datavalidation_spark.engine.uniqueness import duplicate_keys
from datavalidation_spark.engine.validate import validate_documents
from datavalidation_spark.rules.core import annotate
from tests.reference_oracle import span_violations_pandas

N = 3000


def test_clean_docs_have_no_span_violations(spark):
    docs = synth_documents(spark, N, dirty=False)
    ann = annotate(docs, span_rules(), out="v")
    assert ann.where(F.size("v") > 0).count() == 0


def test_dirty_docs_fire_every_planted_class(spark):
    docs = synth_documents(spark, N, dirty=True)
    viol = annotate(docs, span_rules(), out="v").select(
        F.explode("v").alias("x")
    ).select("x.rule_id")
    fired = {r.rule_id for r in viol.distinct().collect()}
    assert {"SPAN-KIND-ENUM", "SPAN-OFFSET-MONO", "SPAN-MUTEX"} <= fired


def test_hof_matches_pandas_udf_oracle(spark):
    """The JVM HOF path and the Arrow pandas-UDF path must agree doc-by-doc."""
    # localCheckpoint: the pandas UDF must consume a materialized column, not
    # the generator's nested-lambda expression (Catalyst can't split a Python
    # UDF whose input is itself a lambda-bound expression tree)
    docs = synth_documents(spark, N, dirty=True).localCheckpoint()
    ann = annotate(docs, span_rules(), out="v").select(
        "doc_id",
        F.array_sort(F.transform("v", lambda x: x["rule_id"])).alias("hof_rules"),
        F.array_sort(span_violations_pandas(F.col("spans"))).alias("udf_rules"),
    )
    span_ids = set(SPAN_RULE_IDS)
    mism = ann.where(
        F.col("hof_rules").cast("string") != F.col("udf_rules").cast("string")
    )
    rows = mism.collect()
    assert rows == [], f"HOF vs pandas-UDF divergence on {len(rows)} docs: {rows[:3]}"
    assert span_ids  # sanity


def test_duplicate_doc_ids_detected(spark):
    docs = synth_documents(spark, N, dirty=True)
    dups = duplicate_keys(docs, "doc_id")
    n_dups = dups.count()
    # planted rate ~1/1000 docs
    assert n_dups > 0
    clean = synth_documents(spark, N, dirty=False)
    assert duplicate_keys(clean, "doc_id").count() == 0


def test_referential_and_verdicts_end_to_end(spark):
    docs = synth_documents(spark, N, dirty=True, n_assets=1000)
    catalog = synth_asset_catalog(spark, 1000)
    res = validate_documents(docs, asset_catalog=catalog)
    by_rule = {
        r.rule_id: r.cnt
        for r in res.violations.groupBy("rule_id").agg(F.count("*").alias("cnt")).collect()
    }
    assert by_rule.get("REF-DANGLING", 0) > 0
    assert by_rule.get("DUP-DOC-ID", 0) > 0

    verd = res.verdicts.collect()
    assert sum(v.row_count for v in verd) == N
    assert any(not v.passed for v in verd)
    # violation counts in verdicts must reconcile with the violation table
    total_viol = res.violations.count()
    assert sum(v.violation_count for v in verd) == total_viol


def test_clean_docs_pass_all_partitions(spark):
    docs = synth_documents(spark, N, dirty=False, n_assets=1000)
    catalog = synth_asset_catalog(spark, 1000)
    res = validate_documents(docs, asset_catalog=catalog)
    assert res.violations.count() == 0
    assert all(v.passed for v in res.verdicts.collect())


def test_span_fingerprint_equality(spark):
    """Span-sequence equality on (kind, text, media_ref, order) — the
    BASELINE.json input_hint invariant: same generator+seed → identical
    fingerprints; different seed → differences."""
    a = synth_documents(spark, 500, seed=42, dirty=False).select(
        "doc_id", span_fingerprint().alias("fp")
    )
    b = synth_documents(spark, 500, seed=42, dirty=False).select(
        "doc_id", span_fingerprint().alias("fp2")
    )
    joined = a.join(b, "doc_id")
    assert joined.where(F.col("fp") != F.col("fp2")).count() == 0
    c = synth_documents(spark, 500, seed=7, dirty=False).select(
        "doc_id", span_fingerprint().alias("fp3")
    )
    assert a.join(c, "doc_id").where(F.col("fp") != F.col("fp3")).count() > 0


def test_parallelism_invariance(spark):
    """Same violations regardless of partitioning (guards the reference's
    batch-edge bug class, SURVEY W2)."""
    docs = synth_documents(spark, N, dirty=True)
    v1 = validate_documents(docs.repartition(1)).violations
    v32 = validate_documents(docs.repartition(32)).violations
    c1 = sorted(tuple(r) for r in v1.select("doc_id", "rule_id").collect())
    c32 = sorted(tuple(r) for r in v32.select("doc_id", "rule_id").collect())
    assert c1 == c32

"""Audit/resume + report-sink tests (SURVEY.md §5.4 determinism/resume)."""

from __future__ import annotations

import gc
import re

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from datavalidation_spark.datagen import synth_asset_catalog, synth_documents
from datavalidation_spark.engine import audit as audit_mod
from datavalidation_spark.engine.acid import ManifestLog
from datavalidation_spark.engine.audit import AuditLog, run_resumable, write_report
from datavalidation_spark.engine.validate import validate_documents


def test_kill_and_resume_identical_audit(spark, tmp_path):
    """Half-run + resume produces the same verdicts as one full run."""
    docs = synth_documents(spark, 2000, dirty=True, n_parts=8, n_assets=500)
    cat = synth_asset_catalog(spark, 500)

    # interrupted: first run killed after partitions 0-3 (same full input!)
    d1 = str(tmp_path / "interrupted")
    run_resumable(
        spark, docs, d1, run_id="r1", asset_catalog=cat,
        only_partitions=[0, 1, 2, 3],
    )
    n2 = run_resumable(spark, docs, d1, run_id="r2", asset_catalog=cat)
    assert n2 == 4
    assert run_resumable(spark, docs, d1, run_id="r3", asset_catalog=cat) == 0

    # uninterrupted control
    d2 = str(tmp_path / "full")
    run_resumable(spark, docs, d2, run_id="rX", asset_catalog=cat)

    v1 = spark.read.parquet(d1 + "/verdicts")
    v2 = spark.read.parquet(d2 + "/verdicts")
    key = ["part_id", "row_count", "violation_count", "violating_rows", "passed"]
    assert sorted(tuple(r) for r in v1.select(*key).collect()) == sorted(
        tuple(r) for r in v2.select(*key).collect()
    )
    # lineage columns present
    assert {"run_id", "rule_version", "snapshot_id", "input_manifest", "validated_at"} <= set(v1.columns)

    # violation rows identical too (modulo which run wrote them)
    viol1 = spark.read.parquet(d1 + "/violations").select("doc_id", "rule_id")
    viol2 = spark.read.parquet(d2 + "/violations").select("doc_id", "rule_id")
    assert sorted(map(tuple, viol1.collect())) == sorted(map(tuple, viol2.collect()))


def test_rule_version_bump_revalidates(spark, tmp_path):
    docs = synth_documents(spark, 500, dirty=True, n_parts=4)
    d = str(tmp_path / "audit")
    assert run_resumable(spark, docs, d, run_id="a", rule_version="v1") == 4
    assert run_resumable(spark, docs, d, run_id="b", rule_version="v1") == 0
    # new rule version → all partitions pending again
    assert run_resumable(spark, docs, d, run_id="c", rule_version="v2") == 4


def test_csv_report_sink(spark, tmp_path):
    docs = synth_documents(spark, 1000, dirty=True)
    res = validate_documents(docs, check_unique=False)
    p = str(tmp_path / "report_csv")
    write_report(res.violations, p, fmt="csv")
    back = spark.read.option("header", "true").csv(p)
    assert back.count() == res.violations.count()
    assert set(back.columns) == set(res.violations.columns)


def test_null_partition_recorded_once(spark, tmp_path):
    """A NULL part_id is a partition like any other: validated and recorded
    on the first submit, skipped by every later one (an anti-join or plain
    NOT IN never matches NULL and would re-validate it forever)."""
    docs = synth_documents(spark, 400, dirty=True, n_parts=4).withColumn(
        "part_id", F.when(F.col("part_id") != 3, F.col("part_id"))
    )
    d = str(tmp_path / "audit")
    got = [run_resumable(spark, docs, d, run_id=f"r{i}") for i in range(3)]
    assert got == [4, 0, 0]
    verd = AuditLog(d).manifest.read(spark, "verdicts")
    assert verd.where(F.col("part_id").isNull()).count() == 1
    committed = AuditLog(d).read_violations(spark).count()
    assert committed == validate_documents(docs).violations.count()
    # the NULL partition's recorded verdict counts its own violations
    n_null = validate_documents(docs).violations.where(F.col("part_id").isNull()).count()
    (null_verdict,) = verd.where(F.col("part_id").isNull()).collect()
    assert n_null > 0
    assert null_verdict.violation_count == n_null
    assert not null_verdict.passed


def test_resume_prunes_validated_partitions_at_scan(spark, tmp_path, monkeypatch):
    """On a part_id-partitioned parquet input the resume submit's file scan
    carries the validated part_ids as a partition filter, and no anti-join
    on part_id is left in its plan."""
    src = str(tmp_path / "docs")
    synth_documents(spark, 800, dirty=True, n_parts=8).write.partitionBy(
        "part_id"
    ).parquet(src)
    docs = spark.read.parquet(src)
    d = str(tmp_path / "audit")
    assert run_resumable(spark, docs, d, run_id="r1", only_partitions=[1, 3, 5]) == 3

    plans = []
    real = audit_mod.validate_documents

    def spy(pending, **kw):
        plans.append(pending._jdf.queryExecution().executedPlan().toString())
        return real(pending, **kw)

    monkeypatch.setattr(audit_mod, "validate_documents", spy)
    assert run_resumable(spark, docs, d, run_id="r2") == 5
    (plan,) = plans
    filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert len(filters) == 1
    (skipped,) = re.findall(r"NOT part_id#\d+ IN \(([^)]*)\)", filters[0])
    assert sorted(int(p) for p in skipped.split(",")) == [1, 3, 5]
    assert "LeftAnti" not in plan


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("backend", ["manifest", "parquet"])
def test_record_scopes_its_violations_cache(spark, tmp_path, monkeypatch, backend):
    """record runs the validation plan once for both table writes and
    leaves the session's persisted RDDs as it found them: after a commit,
    after a failed commit, and with the caller's own cache on the
    violations left in place. The manifest backend persists nothing: its
    verdict write aggregates the staged violation files, so no rule runs
    a second time. The parquet backend caches the violations while it
    writes."""
    docs = synth_documents(spark, 500, dirty=True, n_parts=4)
    gc.collect()  # fire pending cache-release finalizers of earlier tests
    before = _persisted(spark)
    during = []
    plans = []
    real_parquet = DataFrameWriter.parquet

    def counting_parquet(self, path, *a, **kw):
        during.append(_persisted(spark))
        plans.append(
            (self._df._jdf.queryExecution().executedPlan().toString(), self._df.inputFiles())
        )
        return real_parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", counting_parquet)
    ok = str(tmp_path / "ok")
    AuditLog(ok, backend=backend).record(
        validate_documents(docs), "r1", "v1", "s0", ""
    )
    if backend == "manifest":
        assert during == [before, before]
        verdict_plan, verdict_inputs = plans[1]
        assert verdict_inputs
        assert all(f.startswith(f"file://{ok}/violations/") for f in verdict_inputs)
        assert "SPAN-KIND-ENUM" not in verdict_plan
    else:
        assert len(during) == 2 and during[1] == before + 1
    assert _persisted(spark) == before

    # the commit fails after both tables were written
    if backend == "manifest":
        def boom(self, payload):
            raise RuntimeError("commit failed")

        monkeypatch.setattr(ManifestLog, "_publish", boom)
    else:
        def boom(self, path, *a, **kw):
            if path.endswith("verdicts"):
                real_parquet(self, path, *a, **kw)
                raise RuntimeError("commit failed")
            return real_parquet(self, path, *a, **kw)

        monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    with pytest.raises(RuntimeError, match="commit failed"):
        AuditLog(str(tmp_path / "crash"), backend=backend).record(
            validate_documents(docs), "r2", "v1", "s0", ""
        )
    assert _persisted(spark) == before
    monkeypatch.undo()

    # a cache the caller holds survives record
    res = validate_documents(docs)
    res.violations.persist()
    try:
        res.violations.count()
        AuditLog(str(tmp_path / "caller"), backend=backend).record(
            res, "r3", "v1", "s0", ""
        )
        assert res.violations.storageLevel != StorageLevel.NONE
        assert _persisted(spark) == before + 1
    finally:
        res.violations.unpersist()
    assert _persisted(spark) == before


def test_commit_files_and_counts(spark, tmp_path):
    """Each audit commit adds one violations file and one verdicts file on
    a small input (the violation write is rebalanced, so AQE sizes it from
    the data), and its meta carries the partition and violation counts it
    wrote. A commit without violations still records its verdicts."""
    src = str(tmp_path / "docs")
    synth_documents(spark, 800, dirty=True, n_parts=8).write.partitionBy(
        "part_id"
    ).parquet(src)
    docs = spark.read.parquet(src)
    d = str(tmp_path / "audit")
    audit = AuditLog(d)
    for i, cap in enumerate([[0, 1, 2], [3, 4], [5, 6, 7]]):
        files = {t: len(audit.manifest.committed_files(t)) for t in ("violations", "verdicts")}
        n = run_resumable(spark, docs, d, run_id=f"r{i}", only_partitions=cap)
        assert n == len(cap)
        assert {t: len(audit.manifest.committed_files(t)) for t in files} == {
            t: k + 1 for t, k in files.items()
        }
        meta = audit.manifest.snapshots()[-1][1]
        run = F.col("run_id") == f"r{i}"
        assert meta["num_partitions"] == n
        assert meta["num_partitions"] == audit.manifest.read(spark, "verdicts").where(run).count()
        assert meta["num_violations"] == audit.read_violations(spark).where(run).count()
        assert meta["num_violations"] > 0
    metas = [m for _, m in audit.manifest.snapshots()]
    assert sum(m["num_violations"] for m in metas) == audit.read_violations(spark).count()
    assert sum(m["num_partitions"] for m in metas) == audit.manifest.read(spark, "verdicts").count()

    clean = str(tmp_path / "clean")
    clean_docs = synth_documents(spark, 400, dirty=False, n_parts=4)
    assert run_resumable(spark, clean_docs, clean, run_id="c") == 4
    clean_audit = AuditLog(clean)
    assert clean_audit.manifest.snapshots()[-1][1]["num_violations"] == 0
    assert clean_audit.read_violations(spark).count() == 0
    verdicts = clean_audit.manifest.read(spark, "verdicts").collect()
    assert len(verdicts) == 4 and all(v.passed for v in verdicts)

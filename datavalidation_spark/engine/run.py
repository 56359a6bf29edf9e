"""spark-submit entrypoint (north_rule: "run via spark-submit --py-files").

Package and launch:

    cd <repo> && zip -r /tmp/dvspark.zip datavalidation_spark
    spark-submit --py-files /tmp/dvspark.zip \\
        datavalidation_spark/engine/run.py \\
        --input /data/documents --catalog /data/assets \\
        --audit /data/audit --run-id run1 --rule-version v1

The job is partition-resumable: re-submitting the same (rule-version,
snapshot) after a kill validates only the partitions missing from the audit
table (engine/audit.py).

``--rules catalog.json`` adds a serialized rule catalog (rules/dsl.py spec
format, expressions over the input's columns — doc_id/part_id/spans for the
interleaved table) on top of the built-in span rules; the audit rule_version
is then content-addressed (``v1+<hash>``), so editing the catalog
automatically re-validates everything on the next submit.
"""

from __future__ import annotations

import argparse
import sys
import uuid


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Validate an interleaved-document table")
    p.add_argument("--input", default=None, help="documents parquet/iceberg path "
                   "(required unless --synth-docs is given)")
    p.add_argument("--catalog", default=None, help="asset catalog path (referential check)")
    p.add_argument("--audit", required=True, help="audit table directory")
    p.add_argument("--run-id", default=None)
    p.add_argument("--rules", default=None,
                   help="JSON rule-catalog file (rules/dsl.py spec format); "
                   "compiled rules run IN ADDITION to the built-in span "
                   "catalog, and unless --rule-version is given the audit "
                   "rule_version becomes 'v1+<content hash>' so any catalog "
                   "edit re-validates previously-passed partitions")
    p.add_argument("--rule-version", default=None,
                   help="audit rule-version key (default: v1, or "
                   "v1+<catalog hash> when --rules is given)")
    p.add_argument("--snapshot-id", default="snap0")
    p.add_argument("--partition-col", default="part_id")
    p.add_argument("--backend", default="manifest", choices=["manifest", "parquet"],
                   help="audit sink: atomic manifest commits (default) or legacy parquet append")
    p.add_argument("--synth-docs", type=int, default=0,
                   help="generate N synthetic docs instead of reading --input (demo/bench)")
    p.add_argument("--synth-dirty", action="store_true")
    args = p.parse_args(argv)
    if not args.input and not args.synth_docs:
        p.error("either --input or --synth-docs is required")

    from pyspark.sql import SparkSession

    from datavalidation_spark.engine.audit import run_resumable

    # on a cluster, master/conf come from spark-submit; this only fills local runs
    spark = SparkSession.builder.appName("datavalidation-run").getOrCreate()

    if args.synth_docs:
        from datavalidation_spark.datagen import synth_asset_catalog, synth_documents

        docs = synth_documents(spark, args.synth_docs, dirty=args.synth_dirty)
        catalog = synth_asset_catalog(spark)
    else:
        docs = spark.read.parquet(args.input)
        catalog = spark.read.parquet(args.catalog) if args.catalog else None

    extra_rules = None
    rule_version = args.rule_version or "v1"
    if args.rules:
        import json

        from datavalidation_spark.rules.dsl import catalog_version, load_catalog

        with open(args.rules) as f:
            specs = json.load(f)
        extra_rules = list(load_catalog(specs, name="cli").rules)
        if args.rule_version is None:
            rule_version = f"v1+{catalog_version(specs)}"

    run_id = args.run_id or f"run-{uuid.uuid4().hex[:8]}"
    n = run_resumable(
        spark,
        docs,
        args.audit,
        run_id=run_id,
        rule_version=rule_version,
        extra_rules=extra_rules,
        snapshot_id=args.snapshot_id,
        input_manifest=args.input or f"synth:{args.synth_docs}",
        asset_catalog=catalog,
        partition_col=args.partition_col,
        backend=args.backend,
    )
    report = f"validated_partitions={n} run_id={run_id}"
    if args.backend == "manifest":
        from datavalidation_spark.engine.acid import ManifestLog

        # each commit's meta carries the violation count its write observed
        committed = sum(
            meta.get("num_violations", 0)
            for _, meta in ManifestLog(args.audit).snapshots()
            if meta.get("run_id") == run_id
        )
        report += f" committed_violations={committed}"
    print(report)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The north_rule's packaging clause, executed for real: zip the package,
launch `spark-submit --py-files <zip> engine/run.py` as a subprocess, and
assert the partition-resumable contract across two submissions (fresh JVMs
— nothing inherited from the test session's SparkSession)."""

from __future__ import annotations

import os
import re
import shutil
import subprocess
import sys
import zipfile

import pyspark
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def _zip_package(dst: str) -> str:
    pkg = os.path.join(REPO, "datavalidation_spark")
    zpath = os.path.join(dst, "dvspark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for fn in files:
                full = os.path.join(root, fn)
                z.write(full, os.path.relpath(full, REPO))
    return zpath


def _submit(zpath: str, audit: str, run_id: str) -> str:
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the ONLY package source
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    out = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[8]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zpath,
            os.path.join(REPO, "datavalidation_spark", "engine", "run.py"),
            "--synth-docs", "3000",
            "--synth-dirty",
            "--audit", audit,
            "--run-id", run_id,
        ],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
        cwd=os.path.dirname(zpath),  # NOT the repo: import must come from the zip
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return out.stdout


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not found"
)
def test_spark_submit_py_files_resumable(tmp_path):
    zpath = _zip_package(str(tmp_path))
    audit = str(tmp_path / "audit")

    first = _submit(zpath, audit, "sub1")
    assert "validated_partitions=32 run_id=sub1" in first
    # the violation count comes from the commit meta
    assert int(re.search(r"committed_violations=(\d+)", first).group(1)) > 0

    # identical resubmission: everything already validated → 0 partitions
    second = _submit(zpath, audit, "sub2")
    assert "validated_partitions=0 run_id=sub2 committed_violations=0" in second

    for sub in ("verdicts", "violations", "_commits"):
        assert os.path.exists(os.path.join(audit, sub)), sub


def test_run_cli_requires_input_or_synth():
    from datavalidation_spark.engine.run import main

    with pytest.raises(SystemExit):
        main(["--audit", "/tmp/x"])

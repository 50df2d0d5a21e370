"""Deployment shape: spark-submit --py-files ocr_spark.zip runs the
checkpointed extraction end-to-end in a fresh process/JVM with NO
repo on sys.path — only the zip."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or os.path.join(
    os.path.dirname(sys.executable), "spark-submit"
)


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not found"
)
def test_spark_submit_with_pyfiles_zip(spark, tmp_path):
    from ocr_spark.sources.corpus import pages_df
    from tools.package import build

    src = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    pages_df(spark, 40, seed=42, embed_scan=False).write.parquet(src)
    zip_path = build(str(tmp_path / "ocr_spark.zip"))

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            os.path.join(ROOT, "tools", "submit_job.py"),
            src, out, "8",
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),  # NOT the repo — imports must come from the zip
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["missing_urls"] == 0
    assert summary["shards_remaining"] == 0
    assert len(summary["shards_processed"]) == 8


def test_every_module_compiles_without_syntax_warnings():
    """Invalid escape sequences (``"\\["`` in a regex-bearing docstring)
    warn at compile time and become errors in later Pythons: every
    shipped module must compile cleanly with the warning as an error."""
    import glob
    import warnings

    files = sorted(
        glob.glob(os.path.join(ROOT, "ocr_spark", "**", "*.py"), recursive=True)
    )
    assert files
    for path in files:
        with open(path, encoding="utf-8") as fh:
            src = fh.read()
        with warnings.catch_warnings():
            # invalid escapes warn as DeprecationWarning before 3.12
            warnings.simplefilter("error", SyntaxWarning)
            warnings.simplefilter("error", DeprecationWarning)
            compile(src, path, "exec")

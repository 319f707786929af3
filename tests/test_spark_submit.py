"""spark-submit --py-files end-to-end (north rule: runs via spark-submit on
multi-executor clusters). Shells out to the real launcher."""

import shutil
import subprocess
import sys
from pathlib import Path

import duckdb
import pytest

SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
ROOT = Path(__file__).resolve().parents[1]  # the checkout this test belongs to


@pytest.mark.skipif(not shutil.which("spark-submit") and not shutil.os.path.exists("/opt/spark/bin/spark-submit"), reason="no spark-submit")
def test_submit_index_and_filter(spark, tmp_path):
    from geomesa_spark.sources.docs import synth_docs

    docs_path = str(tmp_path / "docs")
    synth_docs(spark, 200).write.mode("overwrite").parquet(docs_path)
    pyfiles = str(tmp_path / "geomesa_spark.zip")
    subprocess.run([sys.executable, str(ROOT / "scripts" / "build_pyfiles.py"), pyfiles], check=True)

    idx_path = str(tmp_path / "indexed")
    r = subprocess.run(
        [
            SUBMIT, "--master", "local[2]",
            "--py-files", pyfiles,
            str(ROOT / "scripts" / "submit_job.py"),
            "--job", "index", "--input", docs_path, "--output", idx_path,
        ],
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]

    hits_path = str(tmp_path / "hits")
    r = subprocess.run(
        [
            SUBMIT, "--master", "local[2]",
            "--py-files", pyfiles,
            str(ROOT / "scripts" / "submit_job.py"),
            "--job", "filter", "--input", idx_path,
            "--geometry", "POLYGON((-40 -40, -40 40, 40 40, 40 -40, -40 -40))",
            "--output", hits_path,
        ],
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    n = duckdb.sql(f"select count(*) from '{hits_path}/*.parquet'").fetchone()[0]
    assert n > 0

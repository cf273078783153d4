"""spark-submit --py-files launch smoke (north-rule launch discipline).

The production job (`jobs/score_job.py`) must be launchable with the engine
shipped ONLY as a ``--py-files`` zip — the way a real multi-executor cluster
receives code. To prove zip-only imports, the job file is copied OUTSIDE the
repo before launch, so neither the driver nor the executors can pick up
``cqi_engine`` from the working tree; every import must resolve through the
zip spark-submit distributes.

Reference parity: the reference is launched as a QGIS script
(/root/reference/scripts/cycling_quality_index.py run inside the QGIS Python
console); this is its cluster-native equivalent.
"""

import os
import shutil
import subprocess
import zipfile
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parents[1]
SF_DIR = os.environ.get("CQI_TEST_SF_DIR", "/root/testdata/sf0.001")

def _find_spark_submit() -> str | None:
    """PATH first; else the launcher pyspark itself ships (pip installs
    put bin/spark-submit inside the package, not necessarily on PATH) —
    the zip-only launch proof must not silently skip on such boxes."""
    found = shutil.which("spark-submit")
    if found:
        return found
    try:
        import pyspark
    except ImportError:  # pragma: no cover
        return None
    cand = Path(pyspark.__file__).parent / "bin" / "spark-submit"
    return str(cand) if cand.exists() else None


spark_submit = _find_spark_submit()


def _build_zip(dest: Path) -> Path:
    zpath = dest / "cqi_engine.zip"
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for py in sorted((REPO / "cqi_engine").rglob("*.py")):
            z.write(py, py.relative_to(REPO))
    return zpath


@pytest.mark.skipif(spark_submit is None, reason="spark-submit not on PATH")
@pytest.mark.skipif(not Path(SF_DIR).exists(), reason="testdata missing")
def test_spark_submit_py_files_launch(tmp_path):
    zpath = _build_zip(tmp_path)
    job = tmp_path / "score_job.py"
    shutil.copyfile(REPO / "jobs" / "score_job.py", job)
    out = tmp_path / "scored"

    proc = subprocess.run(
        [spark_submit, "--master", "local[4]",
         "--conf", "spark.ui.enabled=false",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--py-files", str(zpath), str(job),
         "--input", SF_DIR, "--output", str(out)],
        capture_output=True, text=True, timeout=420, cwd=tmp_path,
    )
    # the job's Python traceback, not the tail of Spark's INFO log;
    # spark-submit relays the Python driver's stderr on its own stdout
    tb = proc.stdout.find("Traceback (most recent call last)")
    assert proc.returncode == 0, (
        proc.stdout[tb:tb + 8000] if tb >= 0 else proc.stderr[-4000:])
    assert "scored_rows=590" in proc.stdout, proc.stdout[-2000:]

    # Independent read-back (duckdb, no Spark): full score schema, sane values.
    con = duckdb.connect()
    n, lo, hi, nulls = con.sql(
        'select count(*), min("index"), max("index"),'
        ' sum(case when "index" is null then 1 else 0 end)'
        f" from '{out}/*.parquet'"
    ).fetchone()
    assert n == 590
    assert nulls == 0
    assert 0 <= lo <= hi <= 100

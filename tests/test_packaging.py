"""spark-submit --py-files packaging test (north-rule deployment path).

The north rule deploys via ``spark-submit --py-files ocr_spark.zip``; the
other job e2e tests run ``python jobs/*.py`` with the repo on sys.path,
which never exercises zip-resolved imports.  This test builds the zip,
copies the job file to a directory with NO ocr_spark package next to it,
and submits with the repo scrubbed from PYTHONPATH — so driver AND python
workers can only import the engine from the zip.
"""

import json
import os
import shutil
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _build_zip(dest: str) -> str:
    zpath = os.path.join(dest, "ocr_spark.zip")
    pkg = os.path.join(REPO, "ocr_spark")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                zf.write(full, os.path.relpath(full, REPO))
    return zpath


def test_spark_submit_py_files_zip(spark, tmp_path):
    from ocr_spark.corpus import write_corpus

    inp = str(tmp_path / "in.parquet")
    write_corpus(inp, 60, seed=17)
    zpath = _build_zip(str(tmp_path))
    # job file copied OUT of the repo: its own sys.path.insert then points
    # at tmp_path (no package there) and only the zip can satisfy imports
    job = str(tmp_path / "extract_job.py")
    shutil.copyfile(os.path.join(REPO, "jobs", "extract.py"), job)
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")

    env = {
        k: v
        for k, v in os.environ.items()
        if k != "PYTHONPATH"
    }
    env["SPARK_GRAFT_CPUS"] = "4"
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--py-files", zpath,
            job,
            "--input", inp,
            "--output", out,
            "--lineage", lin,
            "--buckets", "8",
        ],
        capture_output=True,
        text=True,
        env=env,
        cwd=str(tmp_path),
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["docs"] == 60 and summary["buckets_processed"] == 8

    # byte-identity of the zip-deployed run's output vs the seeded truth
    got = spark.read.parquet(out).select("url", "text")
    want = spark.read.parquet(inp).select("url", "text")
    assert got.count() == 60
    assert got.join(want, ["url", "text"], "inner").count() == 60


def test_extract_import_leaves_other_operators_unloaded():
    """Every Python worker that unpickles the extraction function imports
    ``ocr_spark.operators.extract``; that must not drag in the unrelated
    operator modules through the package ``__init__``."""
    code = (
        "import sys, ocr_spark.operators.extract\n"
        "print(','.join(m for m in ('ann', 'corpus_ops', 'curation', 'dedup',"
        " 'multimodal') if 'ocr_spark.operators.' + m in sys.modules))"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, cwd=REPO,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.strip() == "", proc.stdout

"""spark-submit --py-files packaging: executors import the package from
the shipped zip, no repo checkout on PYTHONPATH (north-rule packaging)."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_py_files_submit(tmp_path, corpus_dir):
    sys.path.insert(0, REPO)
    from tools.package_pyfiles import build

    zip_path = build(str(tmp_path / "pkg.zip"))
    out = str(tmp_path / "out")

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)   # prove the zip is the import source
    res = subprocess.run(
        ["spark-submit", "--master", "local[4]",
         "--py-files", zip_path,
         os.path.join(REPO, "tools", "submit_job.py"),
         "--pages", f"{corpus_dir}/pages.parquet",
         "--gazetteers-dir", corpus_dir,
         "--out", out, "--n-buckets", "4"],
        capture_output=True, text=True, timeout=240, env=env,
        cwd=str(tmp_path))
    assert res.returncode == 0, res.stderr[-2000:]
    line = [ln for ln in res.stdout.splitlines()
            if ln.startswith("{")][-1]
    counts = json.loads(line)
    assert counts["docs"] == 200
    assert counts["chunks"] > 0 and counts["edges"] > 0
    assert os.path.exists(os.path.join(out, "checkpoint"))


def test_module_cli(tmp_path, corpus_dir):
    """``python -m ocr_processing_pipeline_spark.pipeline.job`` runs the
    pass. Here the module is ``__main__``, so the pass's functions reach
    the workers by value, not by reference to the package."""
    out = str(tmp_path / "out")
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p)
    res = subprocess.run(
        [sys.executable, "-m", "ocr_processing_pipeline_spark.pipeline.job",
         "--pages", f"{corpus_dir}/pages.parquet",
         "--gazetteers-dir", corpus_dir,
         "--out", out, "--n-buckets", "4", "--cpus", "4"],
        capture_output=True, text=True, timeout=240, env=env,
        cwd=str(tmp_path))
    assert res.returncode == 0, res.stderr[-2000:]
    line = [ln for ln in res.stdout.splitlines()
            if ln.startswith("{")][-1]
    counts = json.loads(line)
    assert counts["docs"] == 200
    assert counts["chunks"] > 0 and counts["edges"] > 0
    assert counts["checkpoint"] == 4

"""spark-submit --py-files packaging smoke (north rule run mode)."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_prepare_job(tmp_path):
    subprocess.run(["sh", os.path.join(REPO, "package.sh")], check=True, cwd=REPO,
                   capture_output=True)
    import pyspark

    spark_submit = os.path.join(
        os.environ.get("SPARK_HOME", os.path.dirname(pyspark.__file__)), "bin", "spark-submit"
    )
    out_dir = str(tmp_path / "prep")
    res = subprocess.run(
        [
            spark_submit, "--master", "local[4]",
            "--py-files", os.path.join(REPO, "dist", "osmquadtree_bin_spark.zip"),
            os.path.join(REPO, "jobs", "prepare_job.py"),
            "--gen-docs", "1000", "--output", out_dir,
            "--target", "500", "--minimum", "250",
        ],
        capture_output=True, text=True, cwd=REPO, timeout=420,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    with open(os.path.join(out_dir, "metrics.json")) as f:
        metrics = json.load(f)
    assert metrics["n_elements"] > 0
    assert metrics["n_groups"] >= 1
    # the job's own stage records (hostmetrics.stage), not hand timers
    assert metrics["total"] >= metrics["assignments"] > 0
    for fn in ("qts.txt", "groups.txt"):
        with open(os.path.join(out_dir, fn)) as f:
            first = f.readline()
        assert first.rstrip("\n")
    assert os.path.isdir(os.path.join(out_dir, "tiles"))
    assert os.path.isdir(os.path.join(out_dir, "assignments"))

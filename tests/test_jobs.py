"""The job scripts run the way their docstrings say: as plain ``python``
from any working directory, and under ``spark-submit`` with its master."""

import json
import os
import subprocess
import sys

from pyspark.find_spark_home import _find_spark_home

from gips_spark.sources import fixtures

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _env(**extra):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return dict(env, SPARK_GRAFT_DRIVER_MEM="1g", **extra)


def _json_line(proc):
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_run_stage_job_from_any_cwd(spark, tmp_path):
    """`python jobs/run_stage.py` started outside the checkout: the
    enrich kernel's workers import gips_spark, the job prints its JSON
    line, and a second run resumes every bucket."""
    pages = str(tmp_path / "pages")
    fixtures.gen_pages(spark, 200).write.parquet(pages)
    cmd = [
        sys.executable, os.path.join(REPO, "jobs", "run_stage.py"),
        "--stage", "enrich", "--in", pages, "--out", str(tmp_path / "enriched"),
        "--buckets", "4", "--master", "local[2]",
    ]
    runs = [
        _json_line(subprocess.run(
            cmd, cwd=tmp_path, env=_env(), capture_output=True, text=True, timeout=600
        ))
        for _ in range(2)
    ]
    assert runs[0]["buckets_run"] == 4 and runs[0]["rows"] == 200
    assert not runs[0]["resumed"]
    assert runs[1]["resumed"] and runs[1]["buckets_run"] == 0


def test_ingest_batch_job_from_any_cwd(spark, tmp_path):
    """`python jobs/ingest_batch.py` started outside the checkout imports
    gips_spark itself, and its minhash kernel runs in the workers."""
    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, "alpha text"), (1, "beta text"), (2, "alpha text")], "doc_id bigint, text string"
    ).write.parquet(docs)
    proc = subprocess.run(
        [
            sys.executable, os.path.join(REPO, "jobs", "ingest_batch.py"),
            "--batch", docs, "--batch-id", "b1", "--root", str(tmp_path / "corpus"),
            "--buckets", "2", "--master", "local[2]",
        ],
        cwd=tmp_path, env=_env(), capture_output=True, text=True, timeout=600,
    )
    m = _json_line(proc)
    assert m["rows_in"] == 3 and m["survivors"] == 2
    assert [s["stage"] for s in m["stages"]] == ["assign", "corpus", "keys", "bands"]


def test_spark_submit_master_wins(tmp_path):
    """get_spark() with no master keeps the master spark-submit was given."""
    probe = tmp_path / "probe.py"
    probe.write_text(
        "import json\n"
        "from gips_spark import get_spark\n"
        "s = get_spark('probe')\n"
        "print(json.dumps({'master': s.sparkContext.master,\n"
        "                  'shuffle': s.conf.get('spark.sql.shuffle.partitions')}))\n"
        "s.stop()\n"
    )
    submit = os.path.join(_find_spark_home(), "bin", "spark-submit")
    proc = subprocess.run(
        [submit, "--master", "local[1]", str(probe)],
        cwd=tmp_path, env=_env(PYTHONPATH=REPO, SPARK_GRAFT_CPUS="3"),
        capture_output=True, text=True, timeout=600,
    )
    assert _json_line(proc) == {"master": "local[1]", "shuffle": "1"}

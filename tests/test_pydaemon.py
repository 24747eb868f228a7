"""Local Python workers import pyspark from the interpreter's directory
install, not Spark's pyspark.zip (``gips_spark.pydaemon``), and keep
Spark's path when that install cannot stand in for the zip."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

from gips_spark.pydaemon import worker_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_VERSIONS = {"pyspark": b"__version__: str = '4.1.2'\n", "py4j": b"__version__ = '0.10.9.9'\n"}


def _package(root, pkg, version):
    d = root / pkg
    d.mkdir(parents=True)
    (d / "__init__.py").write_bytes(b"")
    (d / "version.py").write_bytes(version)


def _archive(path, pkg=None):
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        if pkg is None:
            z.writestr("org/apache/spark/SparkContext.class", b"\xca\xfe")
        else:
            z.writestr(f"{pkg}/__init__.py", b"")
            z.writestr(f"{pkg}/version.py", _VERSIONS[pkg])
    return str(path)


def _layout(tmp_path, site_packages=("pyspark", "py4j"), versions=_VERSIONS):
    """Spark's worker path over a fake SPARK_HOME, then a site dir
    holding ``site_packages`` at ``versions``."""
    zips = [
        _archive(tmp_path / "spark/python/lib/pyspark.zip", "pyspark"),
        _archive(tmp_path / "spark/python/lib/py4j-0.10.9.9-src.zip", "py4j"),
        _archive(tmp_path / "spark/jars/spark-core_2.13-4.1.2.jar"),
    ]
    site = tmp_path / "site"
    site.mkdir()
    for pkg in site_packages:
        _package(site, pkg, versions[pkg])
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    return [str(cwd), *zips, str(cwd), str(site)]


def test_matching_directory_install_drops_spark_archives(tmp_path):
    path = _layout(tmp_path)
    cwd, site = path[0], path[-1]
    assert worker_path(path) == [cwd, cwd, site]


def test_missing_py4j_keeps_spark_path(tmp_path):
    path = _layout(tmp_path, site_packages=("pyspark",))
    assert worker_path(path) is path


def test_missing_pyspark_keeps_spark_path(tmp_path):
    path = _layout(tmp_path, site_packages=("py4j",))
    assert worker_path(path) is path


def test_version_mismatch_keeps_spark_path(tmp_path):
    for pkg in ("pyspark", "py4j"):
        other = dict(_VERSIONS, **{pkg: b"__version__ = '0.0.1'\n"})
        path = _layout(tmp_path / pkg, versions=other)
        assert worker_path(path) is path, pkg


def test_path_without_spark_archives_is_kept(tmp_path):
    site = tmp_path / "site"
    for pkg in ("pyspark", "py4j"):
        _package(site, pkg, _VERSIONS[pkg])
    path = [str(tmp_path), str(site)]
    assert worker_path(path) is path


def test_import_gips_spark_loads_no_pyspark():
    """``python -m gips_spark.pydaemon`` imports the package first, so
    the package must not import pyspark before the daemon drops the zip."""
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys, gips_spark; "
         "print(sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')))"],
        cwd=REPO, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip() == "[]"


#: subprocess payload: one task of a local[2] session reports where its
#: worker imported pyspark from and which zipimporters it holds
_WORKER_PROBE = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from gips_spark import get_spark

def probe(_):
    import sys, zipimport, pyspark, py4j
    yield json.dumps({
        "pyspark": pyspark.__file__,
        "py4j": py4j.__file__,
        "zipimporters": sorted(
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
        ),
    })

spark = get_spark("pydaemon-probe", master="local[2]", shuffle_partitions=2)
print(spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()[0])
spark.stop()
"""


def test_local_worker_imports_directory_pyspark(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _WORKER_PROBE, REPO],
        cwd=tmp_path, env=dict(env, SPARK_GRAFT_DRIVER_MEM="1g"),
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    for pkg in ("pyspark", "py4j"):
        assert os.path.isfile(got[pkg]), got
        assert ".zip" not in got[pkg] and ".jar" not in got[pkg], got
    assert got["zipimporters"] == [], got

"""How ``get_spark`` sessions start their Python workers.

``graft_daemon.worker_path`` decides, once per daemon start, whether a
worker drops Spark's ``.zip``/``.jar`` path entries and imports pyspark
from site-packages. The fallbacks are checked by calling it on fake paths.
"""

from __future__ import annotations

import os
import zipfile

import pyspark

import graft_daemon
from mapreduce_code_spark.session import session_conf, worker_pyspark

# the directory that holds the installed pyspark package
SITE = os.path.dirname(os.path.dirname(pyspark.__file__))


def _fake_zip(tmp_path, version: str) -> str:
    path = tmp_path / "lib" / "pyspark.zip"
    path.parent.mkdir()
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
    return str(path)


def test_get_spark_workers_import_site_packages_pyspark(spark):
    file, archives = worker_pyspark(spark)
    assert file.startswith(SITE + os.sep), file
    assert archives == []


def test_worker_path_drops_archives_when_versions_match(tmp_path):
    path = [_fake_zip(tmp_path, pyspark.__version__), str(tmp_path / "x.jar"), SITE]
    assert graft_daemon.worker_path(path) == [SITE]


def test_worker_path_keeps_zip_path_on_version_mismatch(tmp_path):
    path = [_fake_zip(tmp_path, "0.0.0"), SITE]
    assert graft_daemon.worker_path(path) == path


def test_worker_path_keeps_zip_path_without_site_packages_pyspark(tmp_path):
    empty = tmp_path / "site"
    empty.mkdir()
    path = [_fake_zip(tmp_path, pyspark.__version__), str(empty)]
    assert graft_daemon.worker_path(path) == path


def test_daemon_module_only_for_local_masters():
    assert session_conf("local[2]")["spark.python.daemon.module"] == "graft_daemon"
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443"):
        conf = session_conf(master)
        assert "spark.python.daemon.module" not in conf
        assert "spark.executorEnv.PYTHONPATH" not in conf

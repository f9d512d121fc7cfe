"""The Python worker daemon: its zipimport patch and its session conf."""

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from granulate_char_ocr_spark import worker_daemon

DAEMON = worker_daemon.__name__
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_archive(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport is lazy from Python 3.13"
)
def test_invalidate_caches_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_archive(archive, {"gcos_zip_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    for name in ("gcos_zip_a", "gcos_zip_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("gcos_zip_a").X == 1
    importlib.invalidate_caches()  # records the archive's stamp

    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    assert archive not in reads

    _write_archive(archive, {"gcos_zip_a": "X = 1\n", "gcos_zip_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("gcos_zip_b").Y == 2


def test_install_leaves_zipimport_alone_from_python_313(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is original


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport is lazy from Python 3.13"
)
def test_workers_fork_from_the_package_daemon(spark):
    from granulate_char_ocr_spark.session import WORKER_DAEMON_CONF

    assert spark.conf.get("spark.python.daemon.module") == DAEMON
    assert WORKER_DAEMON_CONF == {"spark.python.daemon.module": DAEMON}

    def patch_file(batches):  # nested: pickled by value for the workers
        import zipimport

        import pandas as pd

        for pdf in batches:
            code = zipimport.zipimporter.invalidate_caches.__code__
            yield pd.DataFrame({"file": [code.co_filename] * len(pdf)})

    rows = spark.range(0, 8, 1, 4).mapInPandas(patch_file, "file string")
    files = {r.file for r in rows.collect()}
    assert files and all(f.endswith("worker_daemon.py") for f in files)


def _run(cmd, cwd, extra_env=None):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        SPARK_DRIVER_MEM="1g", PYSPARK_PYTHON=sys.executable, **(extra_env or {})
    )
    out = subprocess.run(
        cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return out.stdout.strip().splitlines()[-1]


def test_udf_without_package_code_runs_from_another_cwd(tmp_path):
    script = f"""
import sys
sys.path.insert(0, {ROOT!r})
from granulate_char_ocr_spark.session import get_spark
spark = get_spark(master="local[1]", shuffle_partitions=1)
print(spark.range(3).mapInPandas(lambda batches: batches, "id long").count())
"""
    assert _run([sys.executable, "-c", script], cwd=tmp_path) == "3"


def test_submitted_daemon_module_wins_over_the_package_one(tmp_path):
    from pyspark.find_spark_home import _find_spark_home

    script = tmp_path / "conf.py"
    script.write_text(
        f"""
import json, sys
sys.path.insert(0, {ROOT!r})
from granulate_char_ocr_spark.session import submitted_worker_daemon_conf
print(json.dumps(submitted_worker_daemon_conf()))
"""
    )
    submit = [os.path.join(_find_spark_home(), "bin", "spark-submit")]
    stock = ["--conf", "spark.python.daemon.module=pyspark.daemon"]
    assert json.loads(_run(submit + [str(script)], tmp_path)) == {
        "spark.python.daemon.module": DAEMON
    }
    assert json.loads(_run(submit + stock + [str(script)], tmp_path)) == {}

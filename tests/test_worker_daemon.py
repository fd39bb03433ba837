"""The Python worker daemon (``html_to_document_spark/worker_daemon.py``).

The session tests start their own Spark session in a subprocess through
``plans.job.build_session``: Spark reads ``spark.python.daemon.module``
only when a SparkContext starts, and the test session's context is
already running. That session asks for a 1g heap and keeps
``build_session``'s own ``extraJavaOptions``, so it starts only when the
initial heap fits under the maximum."""

import importlib
import importlib.util
import json
import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

import pyspark
from html_to_document_spark import worker_daemon
from html_to_document_spark.plans.job import _initial_heap
from html_to_document_spark.worker_daemon import GuardedImportlib, prefer_installed

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_ZIP = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib",
                         "pyspark.zip")
INSTALLED = os.path.dirname(os.path.dirname(pyspark.__file__))

SESSION_SCRIPT = textwrap.dedent("""
    import json, os, sys, zipfile
    from html_to_document_spark.plans.job import build_session

    extra = sys.argv[1]
    spark = build_session(cpus=2, app="worker-daemon-test",
                          extra_conf={"spark.driver.memory": "1g"})
    sc = spark.sparkContext

    def entry(_):
        import os, sys, pyspark
        yield {"pid": os.getpid(), "pyspark": pyspark.__file__,
               "modules": sorted(m for m in (
                   "pandas", "html_to_document_spark.core.stream_extract")
                   if m in sys.modules)}

    def added(_):
        import os, h2d_added_py
        yield {"pid": os.getpid(), "value": h2d_added_py.VALUE}

    def zipped(_):
        import os, h2d_added_zip
        yield {"pid": os.getpid(), "value": h2d_added_zip.VALUE}

    out = {"entry": sc.parallelize(range(2), 2).mapPartitions(entry).collect()}
    with open(os.path.join(extra, "h2d_added_py.py"), "w") as f:
        f.write("VALUE = 'py'\\n")
    sc.addPyFile(os.path.join(extra, "h2d_added_py.py"))
    out["py"] = sc.parallelize(range(2), 2).mapPartitions(added).collect()
    with zipfile.ZipFile(os.path.join(extra, "h2d_added.zip"), "w") as z:
        z.writestr("h2d_added_zip.py", "VALUE = 'zip'\\n")
    sc.addPyFile(os.path.join(extra, "h2d_added.zip"))
    out["zip"] = sc.parallelize(range(2), 2).mapPartitions(zipped).collect()
    spark.stop()
    print("REPORT " + json.dumps(out))
""")


def _moves_spark_zip() -> bool:
    return (os.path.isfile(SPARK_ZIP)
            and prefer_installed([SPARK_ZIP, INSTALLED]) == [INSTALLED, SPARK_ZIP])


@pytest.fixture(scope="module")
def report(tmp_path_factory):
    extra = tmp_path_factory.mktemp("pyfiles")
    proc = subprocess.run(
        [sys.executable, "-c", SESSION_SCRIPT, str(extra)], cwd=ROOT,
        capture_output=True, text=True, timeout=600)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("REPORT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    return json.loads(lines[-1][len("REPORT "):])


@pytest.mark.skipif(not _moves_spark_zip(),
                    reason="Spark's pyspark.zip is not the installed release")
def test_worker_starts_from_installed_pyspark_with_preimports(report):
    for row in report["entry"]:
        assert row["pyspark"] == pyspark.__file__
        assert row["modules"] == [
            "html_to_document_spark.core.stream_extract", "pandas"]


def test_files_added_after_first_job_are_importable(report):
    assert [r["value"] for r in report["py"]] == ["py", "py"]
    assert [r["value"] for r in report["zip"]] == ["zip", "zip"]
    # the later jobs ran in workers that had already run a task, where
    # the invalidate_caches guard holds its previous state
    first = {r["pid"] for r in report["entry"]}
    assert first & {r["pid"] for r in report["py"] + report["zip"]}


def test_initial_heap_fits_driver_memory():
    assert _initial_heap("16g") == "4g"
    assert _initial_heap("4096m") == "4g"
    assert _initial_heap("1g") == "1024m"
    assert _initial_heap("512") == "512m"
    with pytest.raises(ValueError):
        _initial_heap("lots")


def _fake_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, data in files.items():
            z.writestr(name, data)
    return str(path)


def _installed(name):
    with open(os.path.join(INSTALLED, "pyspark", name), "rb") as f:
        return f.read()


@pytest.mark.parametrize("files, moved", [
    ({"pyspark/version.py": "__version__ = '0.0.0'\n"}, False),
    ({"pyspark/version.py": _installed("version.py"),
      "pyspark/__init__.py": _installed("__init__.py") + b"# edited\n"}, False),
    ({"pyspark/version.py": _installed("version.py"),
      "pyspark/__init__.py": _installed("__init__.py"),
      "pyspark/tests/test_only_in_zip.py": "pass\n"}, True),
], ids=["version-differs", "size-differs", "same-release"])
def test_prefer_installed_version_guard(tmp_path, files, moved):
    zip_path = _fake_zip(tmp_path / "pyspark.zip", files)
    path = [zip_path, str(tmp_path), INSTALLED]
    expected = [str(tmp_path), INSTALLED, zip_path] if moved else path
    assert prefer_installed(path) == expected


def test_prefer_installed_without_installed_copy(tmp_path):
    zip_path = _fake_zip(tmp_path / "pyspark.zip",
                         {"pyspark/version.py": _installed("version.py")})
    path = [zip_path, str(tmp_path)]
    assert prefer_installed(path) == path


def test_invalidate_caches_runs_only_on_path_change(tmp_path, monkeypatch):
    calls = []
    monkeypatch.setattr(importlib, "invalidate_caches", lambda: calls.append(1))
    monkeypatch.setattr(sys, "path", [str(tmp_path)])
    guarded = GuardedImportlib()
    assert guarded.import_module is importlib.import_module
    guarded.invalidate_caches()
    guarded.invalidate_caches()
    assert len(calls) == 1
    mtime = os.stat(tmp_path).st_mtime_ns
    os.utime(tmp_path, ns=(mtime, mtime + 1_000_000))
    guarded.invalidate_caches()
    assert len(calls) == 2
    sys.path.append(str(tmp_path / "new.zip"))
    guarded.invalidate_caches()
    guarded.invalidate_caches()
    assert len(calls) == 3


def test_daemon_named_only_when_workers_import_package(tmp_path, monkeypatch):
    from html_to_document_spark.plans import job

    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert not job._workers_import_package()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), ROOT]))
    assert job._workers_import_package()


def test_preimports_resolve():
    for name in worker_daemon.PREIMPORTS:
        assert importlib.util.find_spec(name) is not None, name

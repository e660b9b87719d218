"""The worker daemon's zip importer: an unchanged archive is not
re-read on ``importlib.invalidate_caches()``, a rewritten one is, and
local sessions' Python tasks run with the replacement."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from sdvg_spark import worker_daemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zd_first": 1})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(sys, "path", [archive, *sys.path])
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    for name in ("zd_first", "zd_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    assert importlib.import_module("zd_first").VALUE == 1
    worker_daemon.install()  # reads the archive once, stamping it

    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, {"zd_first": 1, "zd_second": 2})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zd_second").VALUE == 2
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_local_session_tasks_use_the_replacement(spark):
    def method_file(_):
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__code__.co_filename

    assert spark.conf.get("spark.python.daemon.module") == "sdvg_spark.worker_daemon"
    files = spark.sparkContext.parallelize(range(4), 4).map(method_file).collect()
    assert files and all(os.path.samefile(f, worker_daemon.__file__) for f in files)


def test_daemon_set_only_where_it_can_import_the_package(tmp_path, monkeypatch):
    """A daemon that cannot import this package would fail every Python
    task of the session: from a directory that does not hold it, with
    no PYTHONPATH to it, get_spark keeps PySpark's own daemon."""
    from sdvg_spark import session

    root = os.path.dirname(os.path.dirname(os.path.abspath(worker_daemon.__file__)))
    monkeypatch.setattr(session.site, "getsitepackages", lambda: [])
    monkeypatch.setenv("PYTHONPATH", "")
    monkeypatch.chdir(tmp_path)
    assert not session._daemon_finds_package()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["/nonexistent", root]))
    assert session._daemon_finds_package()
    monkeypatch.setenv("PYTHONPATH", "")
    monkeypatch.chdir(root)
    assert session._daemon_finds_package()

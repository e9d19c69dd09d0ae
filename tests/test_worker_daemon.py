"""The Python worker daemon (``faisssearcher_spark._daemon``).

Pinned here: an unchanged zip archive is not re-read by
``zipimporter.invalidate_caches()`` while a rewritten one is; the session
the tests run on forks its workers from the daemon; only local masters
get it; and the daemon loads nothing heavy before it forks.
"""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from faisssearcher_spark import _daemon, session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, module, source):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{module}.py", source)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    assert zipimport.zipimporter.invalidate_caches is _daemon._invalidate_caches
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "fs_daemon_probe_a", "VALUE = 'a'\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "fs_daemon_probe_a", raising=False)
    monkeypatch.delitem(sys.modules, "fs_daemon_probe_b", raising=False)
    assert importlib.import_module("fs_daemon_probe_a").VALUE == "a"

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()    # an importer's first call reads
    first = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == first

    _write_zip(archive, "fs_daemon_probe_b", "VALUE = 'rewritten b'\n")
    importlib.invalidate_caches()
    assert len(reads) > first
    assert importlib.import_module("fs_daemon_probe_b").VALUE == "rewritten b"


def test_session_workers_run_under_the_daemon(spark):
    def probe(batches):
        import zipimport as zi

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame(
                {"m": [zi.zipimporter.invalidate_caches.__module__]})

    got = spark.range(4).mapInPandas(probe, "m string").collect()
    assert {r["m"] for r in got} == {"faisssearcher_spark._daemon"}


class _RecordingBuilder:
    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def _built_conf(monkeypatch, master):
    builder = _RecordingBuilder()

    class FakeSession:
        pass

    FakeSession.builder = builder
    monkeypatch.setattr(session, "SparkSession", FakeSession)
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    return session.get_spark("t", master=master)


def test_daemon_conf_only_on_local_masters(monkeypatch):
    key = "spark.python.daemon.module"
    assert key not in _built_conf(monkeypatch, "spark://host:7077")
    assert key not in _built_conf(monkeypatch, "yarn")
    for master in ("local", "local[3]", "local[*]"):
        assert _built_conf(monkeypatch, master)[key] == \
            "faisssearcher_spark._daemon"


def test_daemon_import_is_light(tmp_path):
    code = ("import sys, faisssearcher_spark._daemon; "
            "print(sorted(m for m in ('numpy', 'pandas', 'pyspark', "
            "'faisssearcher_spark.operators') if m in sys.modules))")
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run([sys.executable, "-c", code], env=env, cwd=tmp_path,
                         capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "[]"

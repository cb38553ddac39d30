"""spark.worker_env: executor tasks stop re-reading unchanged zip
archives on every importlib.invalidate_caches(), still pick up a
rewritten archive, and the driver keeps the stock method."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from pg_cjk_parser_spark.spark import worker_env

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PKG = {
    "wenv_pkg/__init__.py": "",
    "wenv_pkg/sub/__init__.py": "",
    "wenv_pkg/sub/a.py": "X = 1\n",
}


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding a package with a subpackage, imported,
    so three zipimporters share it. The stock method, the guard's state
    and the import caches are restored afterwards."""
    path = str(tmp_path / "wenv.zip")
    _write_zip(path, PKG)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(worker_env, "_last_read", {})
    monkeypatch.setattr(sys, "path", [path, *sys.path])
    monkeypatch.setattr(
        sys, "path_importer_cache", dict(sys.path_importer_cache)
    )
    assert not worker_env.active()
    importlib.import_module("wenv_pkg.sub.a")
    yield path
    for name in [m for m in sys.modules if m.startswith("wenv_pkg")]:
        del sys.modules[name]
    zipimport._zip_directory_cache.pop(path, None)


def _importers(path):
    return [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == path
    ]


def _count_reads(monkeypatch, path):
    calls = []
    stock = zipimport._read_directory

    def counting(archive):
        if archive == path:
            calls.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    importers = _importers(archive)
    assert len(importers) == 3
    calls = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    if sys.version_info < (3, 13):  # 3.13+ drops the cache, reads lazily
        assert len(calls) == len(importers)  # stock: one read per importer

    worker_env.install()
    calls.clear()
    importlib.invalidate_caches()
    assert calls == []
    assert len({id(f._files) for f in importers}) == 1
    assert importlib.import_module("wenv_pkg.sub.a").X == 1


def test_rewritten_archive_is_reread(archive, monkeypatch):
    worker_env.install()
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("wenv_pkg.sub.b")
    _write_zip(archive, {**PKG, "wenv_pkg/sub/b.py": "Y = 2\n"})
    calls = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert len(calls) == 1  # one read, shared by every importer
    assert importlib.import_module("wenv_pkg.sub.b").Y == 2


def test_install_is_idempotent(archive, monkeypatch):
    worker_env.install()
    guarded = zipimport.zipimporter.invalidate_caches
    calls = _count_reads(monkeypatch, archive)
    worker_env.install()
    assert zipimport.zipimporter.invalidate_caches is guarded
    assert worker_env.active()
    assert calls == []


def test_driver_import_keeps_stock_method():
    code = (
        "import pyspark, zipimport\n"
        "import pg_cjk_parser_spark\n"
        "print(zipimport.zipimporter.invalidate_caches.__module__)\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.split() == ["zipimport"]


def _probe(batches):
    """Per task: is the guard active, and which archives did this
    worker read since its previous probe (the reads of this task's
    setup, on a worker that ran a probe before)."""
    import zipimport

    import pandas as pd

    import pg_cjk_parser_spark  # noqa: F401 - installs the guard in a task
    from pg_cjk_parser_spark.spark import worker_env as we

    for _ in batches:
        pass
    reads = getattr(zipimport, "_probe_reads", None)
    warm = reads is not None
    if not warm:
        reads = zipimport._probe_reads = []
        stock = zipimport._read_directory

        def counting(path):
            reads.append(os.path.basename(path))
            return stock(path)

        zipimport._read_directory = counting
    seen = list(reads)
    reads.clear()
    yield pd.DataFrame({
        "warm": [warm],
        "guarded": [we.active()],
        "reads": [seen],
        "pyspark_zip": [any(p.endswith("pyspark.zip") for p in sys.path)],
    })


def test_guard_active_in_spark_tasks(spark):
    schema = (
        "warm boolean, guarded boolean, reads array<string>, "
        "pyspark_zip boolean"
    )

    def run():
        return spark.range(0, 8, 1, 8).mapInPandas(_probe, schema).collect()

    first, second = run(), run()
    assert all(r.guarded for r in first + second)
    assert all(r.pyspark_zip for r in first + second)
    warm = [r for r in second if r.warm]
    assert warm, "no task of the second job ran on a reused worker"
    assert all("pyspark.zip" not in r.reads for r in warm)

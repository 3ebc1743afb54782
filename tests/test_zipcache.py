"""The zip-directory re-read guard installed by ``import ragflow_spark``
(``ragflow_spark._zipcache``): an unchanged archive is not re-read on
``importlib.invalidate_caches()``, a changed one is, the guard does nothing
on CPython 3.12+, installs once, and is in place inside Spark Python
workers."""

import importlib
import sys
import zipfile
import zipimport

import pytest

import ragflow_spark
from ragflow_spark import _zipcache

needs_eager = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ invalidates zip directories lazily; no guard",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture()
def archive(tmp_path):
    """A zip on sys.path holding ``zc_probe_a``; cleaned up afterwards."""
    path = str(tmp_path / "probe.zip")
    _write_zip(path, {"zc_probe_a": "VALUE = 1\n"})
    sys.path.insert(0, path)
    yield path
    sys.path.remove(path)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)
    for name in ("zc_probe_a", "zc_probe_b"):
        sys.modules.pop(name, None)


@pytest.fixture()
def read_counter(monkeypatch):
    """Archive paths passed to zipimport's directory reader, in order."""
    seen = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@needs_eager
def test_unchanged_archive_is_not_reread(archive, read_counter):
    import zc_probe_a

    assert zc_probe_a.VALUE == 1
    importlib.invalidate_caches()  # first pass records the archive's stamp
    before = read_counter.count(archive)
    for _ in range(3):
        importlib.invalidate_caches()
    assert read_counter.count(archive) == before


@needs_eager
def test_changed_archive_is_reread_and_new_module_imports(archive,
                                                          read_counter):
    import zc_probe_a  # noqa: F401

    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        import zc_probe_b  # noqa: F401
    _write_zip(archive, {"zc_probe_a": "VALUE = 1\n",
                         "zc_probe_b": "VALUE = 2\n"})
    before = read_counter.count(archive)
    importlib.invalidate_caches()
    assert read_counter.count(archive) == before + 1
    import zc_probe_b

    assert zc_probe_b.VALUE == 2


def test_noop_on_lazy_invalidating_python(monkeypatch):
    def plain(self):
        pass

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", plain)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    assert _zipcache.install() is False
    assert zipimport.zipimporter.invalidate_caches is plain
    assert not _zipcache.installed()


@needs_eager
def test_install_is_idempotent_across_imports():
    installed = zipimport.zipimporter.invalidate_caches
    assert _zipcache.installed()
    importlib.reload(_zipcache)
    importlib.reload(ragflow_spark)
    assert _zipcache.install() is True
    assert zipimport.zipimporter.invalidate_caches is installed


def test_guard_installed_in_spark_python_worker(spark):
    def probe(batches):
        import sys as _sys

        import pandas as pd

        from ragflow_spark import _zipcache as zc

        for b in batches:
            yield pd.DataFrame({
                "installed": [zc.installed()] * len(b),
                "eager": [_sys.version_info < (3, 12)] * len(b),
            })

    rows = (
        spark.range(0, 8, numPartitions=4)
        .mapInPandas(probe, schema="installed boolean, eager boolean")
        .collect()
    )
    assert len(rows) == 8
    assert all(r.installed == r.eager for r in rows), rows

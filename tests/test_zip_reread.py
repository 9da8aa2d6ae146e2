"""``import htg_spark`` makes ``zipimporter.invalidate_caches`` re-read an
archive only when it changed on disk (``htg_spark._skip_unchanged_zip_rereads``).
PySpark calls ``importlib.invalidate_caches()`` at the start of every task,
which before CPython 3.13 re-read every zip archive on a worker's path."""

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

import htg_spark

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimporter.invalidate_caches is lazy on 3.13+"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding module ``zr_first``, first on ``sys.path``."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zr_first": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("zr_first", "zr_second"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


@pytest.fixture
def reads(monkeypatch):
    """The archive paths ``zipimport._read_directory`` reads, in order."""
    calls = []
    real = zipimport._read_directory

    def counting(path):
        calls.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_not_reread(archive, reads):
    import zr_first

    assert zr_first.VALUE == 1
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    importlib.invalidate_caches()  # stamps the importer
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0


def test_rewritten_archive_is_reread(archive, reads):
    import zr_first  # noqa: F401

    importlib.invalidate_caches()
    _write_zip(archive, {"zr_first": "VALUE = 1\n", "zr_second": "VALUE = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    import zr_second

    assert zr_second.VALUE == 2


def test_reimport_does_not_wrap_twice():
    patched = zipimport.zipimporter.invalidate_caches
    assert patched.stat_gated
    importlib.reload(htg_spark)
    assert zipimport.zipimporter.invalidate_caches is patched


def test_workers_skip_unchanged_pyspark_zip(spark):
    """On the executor workers, once ``htg_spark`` is imported,
    ``invalidate_caches()`` reads no ``pyspark.zip`` directory, as PySpark's
    per-task call then does from a worker's next task on."""

    def rereads(batches):
        import importlib
        import sys
        import zipimport

        import htg_spark  # noqa: F401

        importers = [
            imp
            for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter) and imp.archive.endswith("pyspark.zip")
        ]
        real, calls = zipimport._read_directory, []

        def counting(path):
            calls.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {
                "importers": [len(importers)],
                "rereads": [sum(p.endswith("pyspark.zip") for p in calls)],
            }
        )

    rows = (
        spark.range(0, 4, numPartitions=4)
        .mapInArrow(rereads, "importers long, rereads long")
        .collect()
    )
    assert len(rows) == 4
    assert all(r.importers > 0 for r in rows), rows
    assert all(r.rereads == 0 for r in rows), rows

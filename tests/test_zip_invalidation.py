"""Lazy zipimport invalidation (cl_readability_spark/__init__.py):
importlib.invalidate_caches() must not re-read the directory of an archive
already read, yet a zip rewritten in place must still serve its new module
on the next import — on every Python version the package supports."""

import importlib
import sys
import zipfile
import zipimport

import pytest

import cl_readability_spark


def _write_zip(path, value):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("lazyzipmod.py", f"VALUE = {value!r}\n")


def test_invalidate_caches_is_lazy_and_sees_rewritten_zip(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "old")
    # last on sys.path, so imports made inside invalidate_caches (3.13
    # imports lazily there) are found before the archive is consulted
    monkeypatch.setattr(sys, "path", [*sys.path, archive])
    monkeypatch.delitem(sys.modules, "lazyzipmod", raising=False)
    assert importlib.import_module("lazyzipmod").VALUE == "old"

    real_read = zipimport._read_directory
    reads = []

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, "new, and longer than before")
    importlib.invalidate_caches()
    del sys.modules["lazyzipmod"]
    assert importlib.import_module("lazyzipmod").VALUE == "new, and longer than before"
    assert reads.count(archive) == 1
    del sys.modules["lazyzipmod"]


@pytest.mark.spark
@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="3.13+ zipimport is lazy natively; nothing installed")
def test_python_workers_run_lazy_invalidation(spark):
    """Every UDF the package runs is a closure over package code, so the
    worker that runs it has the lazy invalidation installed."""
    import pyarrow as pa

    from cl_readability_spark.pipeline.job import extract_transcripts
    from cl_readability_spark.pipeline.transcripts import synthetic_transcripts

    assert extract_transcripts(synthetic_transcripts(spark, 4, seed=7)).count() > 0

    package = cl_readability_spark

    def probe(batches):
        import zipimport

        lazy = (zipimport.zipimporter.invalidate_caches
                is package._lazy_invalidate_caches)
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"lazy": pa.array([lazy])})

    rows = spark.range(0, 4, numPartitions=4).mapInArrow(probe, "lazy boolean").collect()
    assert [r.lazy for r in rows] == [True] * 4

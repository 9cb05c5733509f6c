"""hnsw_spark/zipcache.py: a PySpark worker re-reads a zip archive's
directory only when the archive changed, and the package installs that
patch inside Python workers only."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from hnsw_spark import zipcache


@pytest.fixture()
def patched(monkeypatch):
    """Install the patch for one test and count directory reads per archive."""
    reads: list[str] = []
    real_read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipcache._ORIGINAL
    )
    zipcache.install()
    yield reads


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(
    patched, tmp_path, monkeypatch
):
    archive = str(tmp_path / "probe_pkg.zip")
    _write_zip(archive, {"zc_probe_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zc_probe_a", raising=False)
    monkeypatch.delitem(sys.modules, "zc_probe_b", raising=False)
    import zc_probe_a

    assert zc_probe_a.VALUE == 1
    assert zipcache.active()
    importlib.invalidate_caches()  # first call: no stamp yet → one read
    patched.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in patched  # unchanged archive: never re-read

    _write_zip(archive, {"zc_probe_a": "VALUE = 1\n", "zc_probe_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert patched.count(archive) == 1  # stamp changed → re-read once
    import zc_probe_b

    assert zc_probe_b.VALUE == 2
    patched.clear()
    importlib.invalidate_caches()
    assert archive not in patched
    sys.modules.pop("zc_probe_a", None)
    sys.modules.pop("zc_probe_b", None)
    sys.path_importer_cache.pop(archive, None)


def test_python_worker_runs_with_the_patch(spark):
    """After a library UDF has run, its worker reports the patch as active,
    and a second cache invalidation re-reads no archive."""
    from pyspark.sql import functions as F

    from hnsw_spark.operators.knn import knn_exact

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)], "vec_id long, embedding array<float>"
    )
    assert knn_exact(
        corpus, corpus.filter(F.col("vec_id") == 3), k=2, strategy="local_merge"
    ).count() == 2

    def probe(batches):
        import importlib as il
        import os as o
        import zipimport as zi

        import pandas as pd

        from hnsw_spark import zipcache as zc

        for _ in batches:
            pass
        il.invalidate_caches()
        reads = []
        real = zi._read_directory
        zi._read_directory = lambda p: reads.append(p) or real(p)
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = real
        yield pd.DataFrame(
            {
                "worker": [zc.in_pyspark_worker()],
                "active": [zc.active()],
                "reads": [len(reads)],
                "pid": [o.getpid()],
            }
        )

    rows = spark.range(4).repartition(2).mapInPandas(
        probe, "worker boolean, active boolean, reads long, pid long"
    ).collect()
    assert rows and all(r.worker and r.active and r.reads == 0 for r in rows)
    assert all(r.pid != os.getpid() for r in rows)
    # the driver imported the package too, and stays unpatched
    assert not zipcache.in_pyspark_worker() and not zipcache.active()

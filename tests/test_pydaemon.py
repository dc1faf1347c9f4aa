"""Worker daemon: the per-task zip directory re-read is skipped while
the archive is unchanged, and the patch is live in Spark's workers."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from deduplication_and_compression_spark import pydaemon

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12 re-reads zip directories lazily (gh-103200)",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"lzi_one": "X = 1\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        pydaemon.lazy_zip_invalidate(zipimport.zipimporter.invalidate_caches),
    )
    monkeypatch.syspath_prepend(str(archive))
    for name in ("lzi_one", "lzi_two"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    assert importlib.import_module("lzi_one").X == 1
    importlib.invalidate_caches()  # first call: no stamp yet, reads once
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert str(archive) not in reads

    # a rewritten archive (new size, new mtime) is re-read, and a
    # module that exists only in the new directory imports
    _write_zip(archive, {"lzi_one": "X = 1\n", "lzi_two": "Y = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    assert importlib.import_module("lzi_two").Y == 2


def test_lazy_invalidate_is_live_in_spark_workers(spark):
    """Each worker task runs importlib.invalidate_caches() before user
    code; with the daemon's patch a task's own call reads no zip
    directory (the pyspark.zip archive is unchanged)."""
    import pandas as pd

    def _probe(batches):
        import zipimport as zi

        reads = []
        read_directory = zi._read_directory
        zi._read_directory = lambda p: reads.append(p) or read_directory(p)
        try:
            importlib.invalidate_caches()
        finally:
            zi._read_directory = read_directory
        live = bool(getattr(zi.zipimporter.invalidate_caches,
                            "lazy_zip_invalidate", False))
        for _ in batches:
            pass
        yield pd.DataFrame({"live": [live], "reads": [len(reads)]})

    rows = (spark.range(0, 4, 1, 2)
            .mapInPandas(_probe, "live boolean, reads int").collect())
    assert rows and all(r["live"] for r in rows), rows
    assert all(r["reads"] == 0 for r in rows), rows

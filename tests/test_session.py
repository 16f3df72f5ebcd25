"""The session module's per-process zip-directory hook.

Spark's Python worker calls `importlib.invalidate_caches()` before every
task; before Python 3.13 each `zipimport.zipimporter` then re-reads its
archive's whole directory. The hook re-reads an archive only when it
changed, so these tests pin both halves: no re-read of an unchanged
archive, and a rewritten archive's new module is importable.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from uav_streamprocessor_spark import session


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def _count_reads(monkeypatch, archive: str) -> list[str]:
    reads: list[str] = []
    read = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "unchanged.zip"
    _write_zip(archive, {"zip_hook_unchanged": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zip_hook_unchanged").X == 1
        importlib.invalidate_caches()  # stamps the archive
        reads = _count_reads(monkeypatch, str(archive))
        importlib.invalidate_caches()
        assert reads == []
        assert importlib.import_module("zip_hook_unchanged").X == 1
    finally:
        sys.modules.pop("zip_hook_unchanged", None)
        sys.path_importer_cache.pop(str(archive), None)


def test_rewritten_archive_is_reread(tmp_path, monkeypatch):
    archive = tmp_path / "rewritten.zip"
    _write_zip(archive, {"zip_hook_first": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zip_hook_first").X == 1
        importlib.invalidate_caches()
        _write_zip(
            archive, {"zip_hook_first": "X = 1\n", "zip_hook_second": "Y = 2\n"}
        )
        reads = _count_reads(monkeypatch, str(archive))
        importlib.invalidate_caches()
        assert importlib.import_module("zip_hook_second").Y == 2
        assert reads == [str(archive)]
    finally:
        for name in ("zip_hook_first", "zip_hook_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


def test_python_workers_install_the_hook(spark):
    """Each of 4 mapInPandas tasks reports, from its worker, which
    `invalidate_caches` its zip importers run and how many archive
    directories a repeated `importlib.invalidate_caches()` re-reads.
    Unpickling the task's function imports the package (it names
    `session`), which is what installs the hook on every worker."""

    def probe(batches):
        import pandas as pd

        for _ in batches:
            pass
        session.get_spark  # names the package: unpickling probe imports it
        importlib.invalidate_caches()  # stamps this worker's archives
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or read(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield pd.DataFrame({
            "hook": [zipimport.zipimporter.invalidate_caches.__module__],
            "reads": [len(reads)],
            "zips": [zips],
        })

    rows = (
        spark.range(0, 4, 1, 4)
        .mapInPandas(probe, "hook string, reads long, zips long")
        .collect()
    )
    assert len(rows) == 4
    expected = session.__name__ if sys.version_info < (3, 13) else "zipimport"
    assert {r["hook"] for r in rows} == {expected}
    assert all(r["zips"] > 0 for r in rows)  # pyspark.zip is on the worker path
    assert {r["reads"] for r in rows} == {0}

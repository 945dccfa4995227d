"""The Python-worker daemon keeps zip-importer directories across tasks.

pyspark's worker calls `importlib.invalidate_caches()` at the start of
every task; the package's `worker_daemon` makes each zip importer
re-read its archive's directory only when the archive changed on disk.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from matt3r_data_ingestion_serverless_spark import worker_daemon


def _write_zip(path, names) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name in names:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def _absent_after_test(monkeypatch, mapping, key) -> None:
    # setitem records the key as absent, so the undo removes whatever
    # the test puts there
    monkeypatch.setitem(mapping, key, None)
    del mapping[key]


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["mod_a"])
    monkeypatch.syspath_prepend(str(archive))
    for name in ("mod_a", "mod_b"):
        _absent_after_test(monkeypatch, sys.modules, name)
    _absent_after_test(monkeypatch, sys.path_importer_cache, str(archive))
    _absent_after_test(monkeypatch, zipimport._zip_directory_cache, str(archive))
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_if_changed
    )

    assert importlib.import_module("mod_a").NAME == "mod_a"
    assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)
    # the first call records each importer's stamp, as the first task
    # of a worker does
    importlib.invalidate_caches()

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, ["mod_a", "mod_b"])
    importlib.invalidate_caches()
    assert reads == [str(archive)]
    assert importlib.import_module("mod_b").NAME == "mod_b"


def test_worker_task_reads_no_archive_directory(spark):
    def count_reads(batches):
        import importlib
        import zipimport

        import pandas as pd

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)]})

    rows = spark.range(4).repartition(4).mapInPandas(count_reads, "reads long").collect()
    assert len(rows) == 4
    assert [r.reads for r in rows] == [0, 0, 0, 0]

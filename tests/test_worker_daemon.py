"""The Python worker daemon (worker_daemon.py): its zip importers
re-read an archive's directory only when the archive changed, and the
session's Python workers are forked from it."""

from __future__ import annotations

import importlib.util
import zipfile
import zipimport

from hadoop_and_spark_spark.worker_daemon import StableZipImporter


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_archive_is_reread_only_when_it_changes(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"mod_a": "VALUE = 1\n"})
    importer = StableZipImporter(str(archive))
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport,
        "_read_directory",
        lambda path: reads.append(path) or real_read(path),
    )

    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == []
    assert importer.find_spec("mod_b") is None

    _write_zip(archive, {"mod_a": "VALUE = 1\n", "mod_b": "VALUE = 2\n"})
    importer.invalidate_caches()
    assert reads == [str(archive)]
    spec = importer.find_spec("mod_b")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert module.VALUE == 2


def test_session_workers_use_the_daemon_importer(spark):
    assert (
        spark.sparkContext.getConf().get("spark.python.daemon.module")
        == "hadoop_and_spark_spark.worker_daemon"
    )

    # nested, so it is pickled by value: a worker cannot import tests/
    def report(batches):
        import sys
        import zipimport

        import pandas as pd

        from hadoop_and_spark_spark.worker_daemon import StableZipImporter

        for _ in batches:
            pass
        zips = [
            f
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        yield pd.DataFrame(
            {
                "n_zip": [len(zips)],
                "n_stable": [sum(type(f) is StableZipImporter for f in zips)],
            }
        )

    rows = (
        spark.range(4, numPartitions=2)
        .mapInPandas(report, "n_zip long, n_stable long")
        .collect()
    )
    assert len(rows) == 2
    for row in rows:
        assert row.n_zip > 0
        assert row.n_stable == row.n_zip

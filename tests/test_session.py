"""Session factory: the worker daemon's zip-cache rule and the default
core count."""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

from codeindex_spark import _daemon
from codeindex_spark.session import default_cores


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


def test_invalidate_rereads_only_changed_archives(tmp_path, monkeypatch):
    mod_a, mod_b = f"zipmod_a_{uuid.uuid4().hex}", f"zipmod_b_{uuid.uuid4().hex}"
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {mod_a: "VALUE = 'a'\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _daemon.invalidate_caches
    )
    monkeypatch.setitem(
        sys.path_importer_cache, archive, zipimport.zipimporter(archive)
    )
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(mod_a).VALUE == "a"
    importlib.invalidate_caches()  # first read stamps every importer

    reads = []
    read_directory = zipimport._read_directory

    def counting(archive_path):
        reads.append(archive_path)
        return read_directory(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    assert reads == []

    before = os.path.getsize(archive)
    _write_zip(archive, {mod_a: "VALUE = 'a'\n", mod_b: "VALUE = 'b'\n"})
    assert os.path.getsize(archive) != before
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module(mod_b).VALUE == "b"


def test_default_cores(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_cores() == len(os.sched_getaffinity(0))


def test_workers_run_the_engine_daemon(spark):
    def probe(batches):
        import zipimport

        import pandas as pd

        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame(
                {"file": [fn.__code__.co_filename], "name": [fn.__name__]}
            )

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "file string, name string")
        .collect()[0]
    )
    assert row.name == "invalidate_caches"
    assert os.path.realpath(row.file) == os.path.realpath(_daemon.__file__)


def test_py_file_added_mid_session_imports(spark, tmp_path):
    # run Python tasks first, so the archive joins workers already running
    spark.range(4, numPartitions=4).mapInPandas(lambda b: b, "id long").collect()
    name = f"addpyfile_mod_{uuid.uuid4().hex}"
    archive = str(tmp_path / f"{name}.zip")
    _write_zip(archive, {name: "VALUE = 42\n"})
    spark.sparkContext.addPyFile(archive)

    def probe(batches):
        import importlib

        import pandas as pd

        value = importlib.import_module(name).VALUE
        for b in batches:
            yield pd.DataFrame({"value": [value] * len(b)})

    rows = spark.range(4, numPartitions=4).mapInPandas(probe, "value long").collect()
    assert [r.value for r in rows] == [42] * 4

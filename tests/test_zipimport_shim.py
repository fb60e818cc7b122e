"""The package's zipimport gate (Python < 3.12): ``importlib.invalidate_caches()``
re-reads a zip archive's directory only when the archive changed on disk,
and the gate is live in every Spark Python worker that runs engine code."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import s3_avro_repair_spark

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="zipimport invalidation is lazy from Python 3.12; the gate is not installed",
)


def _write_package(archive, value: int) -> None:
    tmp = f"{archive}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr("graft_zip_probe/__init__.py", f"VALUE = {value}\n")
    os.replace(tmp, archive)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_package(archive, 1)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "graft_zip_probe", raising=False)
    mod = importlib.import_module("graft_zip_probe")
    assert mod.VALUE == 1

    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads.count(archive) == 0

        # installing twice (re-import, reload) keeps one gate
        gate = zipimport.zipimporter.invalidate_caches
        importlib.reload(s3_avro_repair_spark)
        assert zipimport.zipimporter.invalidate_caches is gate

        # new content on disk: the directory is re-read and reload
        # sees the new code
        _write_package(archive, 22)
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.reload(mod).VALUE == 22
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
    finally:
        sys.modules.pop("graft_zip_probe", None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_gate_is_active_in_every_python_task(spark):
    import pandas as pd

    def probe(batches):
        import zipimport

        import s3_avro_repair_spark  # noqa: F401

        gated = getattr(zipimport.zipimporter.invalidate_caches, "stat_gated", False)
        for pdf in batches:
            yield pd.DataFrame({"id": pdf["id"], "gated": gated})

    n = 6
    rows = (
        spark.range(0, n, numPartitions=n)
        .mapInPandas(probe, "id long, gated boolean")
        .collect()
    )
    assert sorted(r.id for r in rows) == list(range(n))
    assert all(r.gated for r in rows)

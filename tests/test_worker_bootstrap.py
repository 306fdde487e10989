"""The worker ``sitecustomize`` shim written by ``worker_bootstrap``.

Inside Spark Python workers (session started by ``get_session``):
importers of Spark's own archives are the frozen class and survive
``importlib.invalidate_caches()`` with their directory caches intact,
while a user archive shipped with ``addPyFile`` keeps a plain
``zipimport.zipimporter``. In the calling process: the shim is written
even when protobuf needs no vendoring, and then carries no protobuf
section.
"""
import os
import uuid
import zipfile

import pyarrow as pa
import pytest

from industry_big_data_time_sequence_process_spark import (
    worker_bootstrap as wb)


@pytest.mark.smoke
def test_spark_archives_frozen_in_workers(spark):
    prefixes = wb.spark_archive_prefixes()

    def probe(batches):
        import importlib
        import sys

        for _ in batches:
            pass
        frozen = sys.modules["sitecustomize"].SparkArchiveImporter
        mine = {k: v for k, v in sys.path_importer_cache.items()
                if k.startswith(prefixes)}
        before = {k: id(v._files) for k, v in mine.items()}
        importlib.invalidate_caches()
        yield pa.RecordBatch.from_pydict({
            "path": list(mine),
            "frozen": [type(v) is frozen for v in mine.values()],
            "same_files": [id(v._files) == before[k]
                           for k, v in mine.items()],
        })

    rows = (spark.range(4).repartition(4)
            .mapInArrow(probe, "path string, frozen boolean, "
                               "same_files boolean")
            .collect())
    paths = {r.path for r in rows}
    # pyspark.zip (SPARK_HOME as given) and the spark-core jar (resolved).
    assert any(p.endswith("pyspark.zip") for p in paths), paths
    assert any(".jar" in p for p in paths), paths
    assert [r.path for r in rows if not r.frozen] == []
    assert [r.path for r in rows if not r.same_files] == []


@pytest.mark.smoke
def test_user_archive_keeps_plain_zipimporter(spark, tmp_path):
    mod = f"shipped_{uuid.uuid4().hex[:12]}"
    archive = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{mod}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(archive))

    def probe(batches):
        import importlib
        import zipimport

        for _ in batches:
            pass
        m = importlib.import_module(mod)
        yield pa.RecordBatch.from_pydict({
            "value": [m.VALUE],
            "loader": [type(m.__loader__).__module__ + "."
                       + type(m.__loader__).__qualname__],
            "plain": [type(m.__loader__) is zipimport.zipimporter],
        })

    rows = (spark.range(4).repartition(4)
            .mapInArrow(probe, "value long, loader string, plain boolean")
            .collect())
    assert len(rows) == 4
    assert {(r.value, r.loader, r.plain) for r in rows} == {
        (42, "zipimport.zipimporter", True)}


def test_shim_written_without_protobuf_section(monkeypatch, tmp_path):
    monkeypatch.setattr(wb, "_native", lambda: True)
    monkeypatch.setattr(wb, "_state",
                        {"done": False, "ok": False, "workers": False})
    monkeypatch.setattr(wb, "_shim_dir", lambda: str(tmp_path))
    monkeypatch.setenv("PYTHONPATH", "/elsewhere")

    assert wb.ensure_protobuf() and wb.workers_covered()
    src = (tmp_path / "sitecustomize.py").read_text()
    compile(src, "sitecustomize.py", "exec")
    assert "class SparkArchiveImporter(zipimport.zipimporter)" in src
    assert "sys.path_hooks.insert(0, _spark_archive_hook)" in src
    for prefix in wb.spark_archive_prefixes():
        assert repr(prefix) in src
    assert "protobuf" not in src and "_VENDOR" not in src
    assert os.environ["PYTHONPATH"].split(os.pathsep) == [
        str(tmp_path), "/elsewhere"]

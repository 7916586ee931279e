"""Zip-import cache trimming for Spark Python tasks: which importers go,
which stay, and that ``importlib.invalidate_caches()`` (PySpark runs it
before every task) then re-reads no engine archive."""

import importlib.machinery
import json
import pickle
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark import SparkFiles

from archive_pdf_tools_spark.pyworker import python_task, trim_zip_import_cache


def _zip(path, **modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)
    return str(path)


def _archives_read(monkeypatch):
    """Archives whose directory ``invalidate_caches()`` re-reads."""
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    monkeypatch.setattr(zipimport, "_read_directory", read_directory)
    return reads


@pytest.fixture
def worker(monkeypatch, tmp_path):
    """This process posing as a Python worker with a SparkFiles root."""
    root = tmp_path / "userFiles"
    root.mkdir()
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(SparkFiles, "_root_directory", str(root))
    return root


def test_trim_drops_outside_importers_keeps_sparkfiles(worker, tmp_path,
                                                       monkeypatch):
    lib = _zip(tmp_path / "lib.zip", pw_lib_a="A = 1\n", pw_lib_b="B = 2\n")
    # a sibling directory whose name extends the root's is not under it
    near = tmp_path / "userFiles-2"
    near.mkdir()
    lookalike = _zip(near / "near.zip", pw_near="N = 4\n")
    added = _zip(worker / "added.zip", pw_added="C = 3\n")
    for path in (lib, lookalike, added):
        monkeypatch.syspath_prepend(path)
    for name in ("pw_lib_a", "pw_lib_b", "pw_near", "pw_added"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import pw_added
    import pw_lib_a
    import pw_near
    assert {lib, lookalike, added} <= set(_archives_read(monkeypatch))

    assert trim_zip_import_cache() >= 2
    reads = _archives_read(monkeypatch)
    assert lib not in reads and lookalike not in reads
    assert added in reads                 # the --py-files importer stays
    assert isinstance(sys.path_importer_cache[added], zipimport.zipimporter)
    # imported modules keep their loader; the archive still imports,
    # from the cached directory, without re-reading it
    assert pw_lib_a.A == 1 and pw_added.C == 3 and pw_near.N == 4
    directory = []
    monkeypatch.setattr(zipimport, "_read_directory", directory.append)
    import pw_lib_b
    assert pw_lib_b.B == 2 and directory == []


def test_trim_is_a_no_op_outside_a_worker(tmp_path, monkeypatch):
    lib = _zip(tmp_path / "driver.zip", pw_driver="D = 5\n")
    monkeypatch.syspath_prepend(lib)
    monkeypatch.delitem(sys.modules, "pw_driver", raising=False)
    import pw_driver  # noqa: F401
    assert not SparkFiles._is_running_on_worker
    assert trim_zip_import_cache() == 0
    assert lib in _archives_read(monkeypatch)


def test_python_task_trims_on_entry_and_exit(worker, tmp_path, monkeypatch):
    lib = _zip(tmp_path / "task.zip", pw_task_a="A = 1\n",
               pw_task_b="B = 2\n")
    monkeypatch.syspath_prepend(lib)
    for name in ("pw_task_a", "pw_task_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import pw_task_a  # noqa: F401
    seen = []

    @python_task
    def body(batches):
        """Doc kept."""
        seen.append(lib in sys.path_importer_cache)
        for b in batches:
            # a path search re-creates the archive's importer
            assert importlib.machinery.PathFinder.find_spec("pw_task_b")
            yield b

    assert body.__doc__ == "Doc kept." and body.__wrapped__ is not None
    assert list(body(iter([1, 2]))) == [1, 2]
    assert seen == [False]
    assert lib not in sys.path_importer_cache
    # closing the generator early still trims
    gen = body(iter([1, 2]))
    next(gen)
    assert lib in sys.path_importer_cache
    gen.close()
    assert lib not in sys.path_importer_cache


def test_decorated_body_pickles_by_reference():
    """The Spark body (mapInArrow) travels to the workers as a reference
    to the module attribute."""
    import cloudpickle

    from archive_pdf_tools_spark.operators import extract

    blob = cloudpickle.dumps(extract._extract_arrow)
    assert pickle.loads(blob) is extract._extract_arrow


def test_worker_task_rereads_no_engine_archive(spark, tmp_path):
    """In a real worker: after ``_extract_batches`` ran on a one-page
    frame, ``invalidate_caches()`` re-reads no archive outside the
    SparkFiles root, while a zip added with ``addPyFile`` mid-session
    still imports and keeps its importer."""
    added = _zip(tmp_path / "pw_spark_added.zip",
                 pw_spark_added="VALUE = 'from addPyFile'\n")
    spark.sparkContext.addPyFile(added)
    frame = pd.DataFrame([{
        "doc_id": "d0", "offset": 0, "kind": "text", "media_ref": "",
        "text": ('{"page": {"dpi": 300, "h": 100, "scan_res": null, '
                 '"w": 1000}, "paragraphs": [{"lines": [{"baseline": '
                 '[0.0, 0.0], "bbox": [10, 10, 110, 30], "words": '
                 '[{"bbox": [10, 10, 40, 30], "confidence": 95.0, '
                 '"fontsize": 12.0, "text": "word", '
                 '"writing_direction": 0}]}]}]}')}])

    def probe(batches):
        import importlib
        import os
        import zipimport

        import pw_spark_added
        from pyspark import SparkFiles

        from archive_pdf_tools_spark.operators.extract import (
            _extract_batches)

        for _ in batches:
            pass
        out = pd.concat(list(_extract_batches([frame])))
        reads = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        root = os.path.join(SparkFiles.getRootDirectory(), "")
        yield pd.DataFrame({"result": [json.dumps({
            "texts": [t for subs in out["subs"] for _k, t, _m in subs],
            "outside": [r for r in reads if not r.startswith(root)],
            "inside": [os.path.basename(r) for r in reads
                       if r.startswith(root)],
            "value": pw_spark_added.VALUE})]})

    rows = (spark.range(1).repartition(1)
            .mapInPandas(probe, "result string").collect())
    got = json.loads(rows[0]["result"])
    assert "word" in got["texts"]
    assert got["outside"] == []
    assert "pw_spark_added.zip" in got["inside"]
    assert got["value"] == "from addPyFile"

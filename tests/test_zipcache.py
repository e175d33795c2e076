"""The zip-archive rule of :mod:`cdap_geo_spark.zipcache`: a worker
re-reads an archive on its path only when the archive has changed."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from cdap_geo_spark import zipcache

pytestmark = pytest.mark.skipif(
    not zipcache.EAGER, reason="this interpreter re-reads zips lazily")


def _write_zip(path, members):
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)
    os.replace(tmp, path)


def test_unchanged_zip_is_not_reread_and_a_rewrite_is(tmp_path,
                                                       monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_first.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    for name in ("zc_first", "zc_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zc_first").VALUE == 1

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    assert zipcache.install()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, {"zc_first.py": "VALUE = 1\n",
                         "zc_second.py": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zc_second").VALUE == 2
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_missing_zip_is_dropped_and_reread_when_back(tmp_path, monkeypatch):
    archive = str(tmp_path / "gone.zip")
    _write_zip(archive, {"zc_gone.py": "VALUE = 3\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.delitem(sys.modules, "zc_gone", raising=False)
    monkeypatch.delitem(sys.modules, "zc_back", raising=False)
    importlib.import_module("zc_gone")
    assert zipcache.install()
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    _write_zip(archive, {"zc_back.py": "VALUE = 4\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zc_back").VALUE == 4


def test_reused_worker_rereads_no_unchanged_archive(spark):
    def reads_since_last_task(batches):
        """On a worker: its archive reads since its previous task, or -1
        on its first task (the count starts then). Defined in the test
        so that it ships by value."""
        import zipimport

        import pyarrow as pa

        import cdap_geo_spark  # noqa: F401  (installs the rule on a worker)

        for _ in batches:
            pass
        counter = getattr(zipimport, "_zc_test_reads", None)
        if counter is None:
            counter = zipimport._zc_test_reads = [0]
            read_directory = zipimport._read_directory

            def counting(path):
                counter[0] += 1
                return read_directory(path)

            zipimport._read_directory = counting
            reads = -1
        else:
            reads, counter[0] = counter[0], 0
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()],
                                          "reads": [reads]})

    # one task per job until workers come round again: the idle pool
    # hands them out in turn, and earlier tests may have left many
    runs = []
    while len(runs) < 64 and sum(r >= 0 for _, r in runs) < 3:
        runs.append(tuple(spark.range(1, numPartitions=1).mapInArrow(
            reads_since_last_task, "pid long, reads long").collect()[0]))
    reused = [reads for _, reads in runs if reads >= 0]
    assert reused, f"no worker ran two of the tasks: {runs}"
    assert reused == [0] * len(reused), runs

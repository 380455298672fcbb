"""The Python-worker import-cache guard (marginaliasearch_spark/worker_imports.py):
a reused worker re-reads no zip directory when no archive changed, a
rewritten archive is re-read, and the driver keeps the stdlib method."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from marginaliasearch_spark import worker_imports

GUARDED = sys.implementation.name == "cpython" and (3, 10) <= sys.version_info[:2] <= (3, 12)


@pytest.mark.skipif(not GUARDED, reason="invalidate_caches re-reads eagerly only on CPython 3.10-3.12")
def test_reused_worker_rereads_no_zip_directory(spark):
    """Each task counts the worker's zipimport._read_directory calls since
    the previous task in the same worker: the count covers PySpark's
    per-task importlib.invalidate_caches() and nothing the UDF imports."""
    import pyarrow as pa

    def reads_since_last_task(batches):
        import os
        import sys
        import zipimport

        import marginaliasearch_spark  # noqa: F401  (a package task)

        reads = getattr(zipimport._read_directory, "reads", None)
        if reads is None:
            stdlib = zipimport._read_directory

            def counting(archive):
                counting.reads += 1
                return stdlib(archive)

            counting.reads = 0
            zipimport._read_directory = counting
            reads = -1  # first task seen in this worker: nothing counted yet
        else:
            zipimport._read_directory.reads = 0
        zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "reads": [reads], "zips": [zips]}
        )

    # idle workers are handed out in turn, so a worker runs its second
    # task once every idle worker has run one
    schema = "pid long, reads long, zips long"
    reused = []
    for _ in range(64):
        df = spark.range(1, numPartitions=1).mapInArrow(reads_since_last_task, schema)
        reused += [r for r in df.collect() if r["reads"] >= 0]
        if len(reused) >= 4:
            break
    assert reused, "no Python worker ran two tasks"
    # zip archives are on the worker path: the stdlib call would read one
    # directory per zipimporter
    assert all(r["zips"] > 0 for r in reused)
    assert [r["reads"] for r in reused] == [0] * len(reused)


@pytest.mark.skipif(not GUARDED, reason="invalidate_caches re-reads eagerly only on CPython 3.10-3.12")
def test_guard_rereads_a_rewritten_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "wi_mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("wi_old_mod.py", "X = 1\n")
    stdlib_read = zipimport._read_directory
    reads = []

    def counting(path):
        reads.append(path)
        return stdlib_read(path)

    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        worker_imports._guard(zipimport.zipimporter.invalidate_caches),
    )
    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        assert importlib.import_module("wi_old_mod").X == 1
        importlib.invalidate_caches()  # the guard's first sight of the archive
        assert reads.count(archive) == 2  # the import, then that first call
        importlib.invalidate_caches()
        assert reads.count(archive) == 2  # unchanged archive: no re-read

        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("wi_old_mod.py", "X = 1\n")
            z.writestr("wi_new_mod.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert reads.count(archive) == 3
        assert importlib.import_module("wi_new_mod").Y == 2
        importlib.invalidate_caches()
        assert reads.count(archive) == 3
    finally:
        for mod in ("wi_old_mod", "wi_new_mod"):
            sys.modules.pop(mod, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_driver_keeps_the_stdlib_method():
    import marginaliasearch_spark  # noqa: F401

    method = zipimport.zipimporter.invalidate_caches
    assert not hasattr(method, "__wrapped__")
    assert (method.__module__, method.__qualname__) == ("zipimport", "zipimporter.invalidate_caches")

    # the same import inside a worker's environment installs the guard
    probe = (
        "import zipimport, marginaliasearch_spark;"
        "print(hasattr(zipimport.zipimporter.invalidate_caches, '__wrapped__'))"
    )
    env = {**os.environ, "PYTHON_WORKER_FACTORY_SECRET": "x"}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", probe], env=env, cwd=root, capture_output=True, text=True,
        check=True,
    ).stdout.strip()
    assert out == str(GUARDED)

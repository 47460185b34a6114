"""The engine's Python worker daemon (gorilla_tsc_spark/worker_daemon.py).

In-process: once patched, `importlib.invalidate_caches()` re-reads a zip
archive's directory only when the archive changed on disk (a rewritten
archive's new member imports; a deleted archive ends as stock leaves it).
On the session: the Arrow kernel pool (`mapInPandas`) and the RDD pool (a
Python-built `createDataFrame`) both run in workers forked from the
engine daemon.  In a subprocess: the engine imported from a zip, from a
foreign cwd with PYTHONPATH unset, still runs Python tasks, because
`get_spark` puts the zip on `spark.executorEnv.PYTHONPATH`.
"""
from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pandas as pd
import pytest

from gorilla_tsc_spark import worker_daemon

REPO = Path(__file__).resolve().parent.parent
PKG = "gdz_probe_pkg"


def _write_zip(path: Path, members: dict[str, str]) -> None:
    # write beside, then swap in: a new inode, as a deploy would leave it
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)
    os.replace(tmp, path)


@pytest.fixture
def patched_zip(tmp_path, monkeypatch):
    """A zip holding package `PKG` on sys.path, with the daemon's patch on
    (both undone at teardown)."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    if not worker_daemon.install():
        pytest.skip("zipimport already re-reads lazily (CPython 3.13+)")
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {f"{PKG}/__init__.py": "", f"{PKG}/a.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == str(archive):
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield archive, reads
    for name in [m for m in sys.modules if m.split(".")[0] == PKG]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(str(archive))]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(str(archive), None)
    worker_daemon._read_keys.pop(str(archive), None)


def test_unchanged_archive_is_not_reread(patched_zip):
    archive, reads = patched_zip
    assert importlib.import_module(f"{PKG}.a").VALUE == 1
    importers = [v for k, v in sys.path_importer_cache.items()
                 if k.startswith(str(archive))]
    assert len(importers) == 2  # the archive root and the package path
    reads.clear()
    importlib.invalidate_caches()  # the first call reads once, for both
    assert len(reads) == 1
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(patched_zip):
    archive, reads = patched_zip
    importlib.import_module(f"{PKG}.a")
    importlib.invalidate_caches()
    _write_zip(archive, {f"{PKG}/__init__.py": "", f"{PKG}/a.py": "VALUE = 1\n",
                         f"{PKG}/b.py": "VALUE = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert len(reads) == 1  # one read serves every importer of the archive
    assert importlib.import_module(f"{PKG}.b").VALUE == 2
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def test_deleted_archive_behaves_like_stock(patched_zip):
    archive, reads = patched_zip
    importlib.import_module(f"{PKG}.a")
    importlib.invalidate_caches()
    importers = [v for k, v in sys.path_importer_cache.items()
                 if k.startswith(str(archive))]
    archive.unlink()
    importlib.invalidate_caches()
    # stock: the failed read drops the cached directory and empties _files
    assert str(archive) not in zipimport._zip_directory_cache
    assert all(imp._files == {} for imp in importers)
    assert str(archive) not in worker_daemon._read_keys


def _probe() -> tuple[str, str]:
    main = sys.modules["__main__"]
    inv = zipimport.zipimporter.invalidate_caches
    return (getattr(getattr(main, "__spec__", None), "name", ""),
            f"{inv.__module__}.{inv.__qualname__}")


def _pandas_probe(it):
    for _ in it:
        pass
    daemon, inv = _probe()
    yield pd.DataFrame({"daemon": [daemon], "invalidate": [inv]})


@pytest.mark.skipif(hasattr(zipimport.zipimporter, "_get_files"),
                    reason="zipimport already re-reads lazily (CPython 3.13+)")
def test_session_workers_run_patched_daemon(spark):
    want = ("gorilla_tsc_spark.worker_daemon", "__main__._invalidate_if_changed")
    schema = "daemon string, invalidate string"
    arrow = spark.range(0, 8, numPartitions=4).mapInPandas(_pandas_probe, schema)
    assert {tuple(r) for r in arrow.collect()} == {want}
    # a frame built from Python objects runs in the RDD worker pool
    rdd = spark.sparkContext.parallelize(range(4), 2).map(lambda _: _probe())
    assert {tuple(r) for r in spark.createDataFrame(rdd, schema).collect()} == {want}
    assert spark.createDataFrame([(1, "a")], "k int, v string").collect()[0].v == "a"


def test_engine_zip_runs_python_tasks_from_foreign_cwd(tmp_path):
    engine = tmp_path / "engine.zip"
    with zipfile.ZipFile(engine, "w") as z:
        for f in sorted((REPO / "gorilla_tsc_spark").rglob("*.py")):
            z.write(f, f.relative_to(REPO).as_posix())
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(engine)!r})
        import gorilla_tsc_spark
        from gorilla_tsc_spark.session import get_spark
        assert gorilla_tsc_spark.__file__.startswith({str(engine)!r})
        spark = get_spark(cores=1, extra_conf={{"spark.ui.showConsoleProgress": "false"}})
        n = spark.range(10).mapInPandas(lambda it: it, "id long").count()
        spark.stop()
        print("rows", n)
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", script], cwd=cwd, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    assert out.stdout.split()[-2:] == ["rows", "10"]

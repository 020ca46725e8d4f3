"""The Python worker daemon (``pbf_spark/worker_daemon.py``): a zip
archive's directory is re-read only when the archive changed on disk,
and the session's workers run under it."""

from __future__ import annotations

import subprocess
import sys
import textwrap
from pathlib import Path

import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parent.parent

ZIPIMPORT_SEMANTICS = textwrap.dedent(
    """
    import importlib, os, sys, tempfile, zipfile, zipimport

    from pbf_spark.worker_daemon import install

    install()
    archive = os.path.join(tempfile.mkdtemp(), "mods.zip")

    def write(*names):
        with zipfile.ZipFile(archive, "w") as z:  # rewritten in place
            for n in names:
                z.writestr(f"{n}.py", f"NAME = {n!r}\\n")

    write("m1")
    sys.path.insert(0, archive)
    import m1

    reads = []
    read = zipimport._read_directory
    zipimport._read_directory = lambda path: reads.append(path) or read(path)

    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0, reads

    write("m1", "m2")
    importlib.invalidate_caches()
    import m2
    assert m2.NAME == "m2" and reads.count(archive) == 1, reads

    os.remove(archive)
    importlib.invalidate_caches()
    print("ok")
    """
)


def test_zipimport_rereads_only_changed_archives():
    """Unchanged archive: no directory re-read; rewritten archive: its
    new module imports; deleted archive: no error. Runs in a subprocess
    so this interpreter's zipimport stays stock."""
    out = subprocess.run(
        [sys.executable, "-c", ZIPIMPORT_SEMANTICS],
        cwd=REPO, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


def test_session_workers_run_under_daemon(spark):
    sc = spark.sparkContext

    def patched_by(_):
        import inspect
        import zipimport

        yield inspect.getsourcefile(zipimport.zipimporter.invalidate_caches)

    files = set(sc.parallelize(range(8), 8).mapPartitions(patched_by).collect())
    assert files == {str(REPO / "pbf_spark" / "worker_daemon.py")}

    def count_reads(_):
        """Directory reads since this worker's previous count_reads task
        (None: none ran here); the count includes this task's set-up."""
        import zipimport

        read = zipimport._read_directory
        calls = getattr(read, "calls", None)
        if calls is None:
            def counting(path):
                counting.calls += 1
                return read(path)

            counting.calls = 0
            zipimport._read_directory = counting
        else:
            read.calls = 0
        yield calls

    count = lambda: sc.parallelize(range(8), 8).mapPartitions(count_reads).collect()
    count()
    warm = [c for c in count() if c is not None]
    assert warm and set(warm) == {0}

    @F.udf("long")
    def fail(x):
        raise ValueError("worker daemon boom")

    with pytest.raises(PythonException, match="worker daemon boom"):
        spark.range(0, 8, numPartitions=8).select(fail("id")).collect()

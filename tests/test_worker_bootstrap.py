"""The Python worker bootstrap (compat/_pbshim_path/sitecustomize.py) keeps
zip importers from re-reading unchanged archives on every task, without
losing a rewritten archive's new contents."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from gridmr_spark.compat import pbshim

needs_zip_patch = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 invalidates zip directories lazily; not patched",
)


@needs_zip_patch
def test_worker_tasks_do_not_reread_unchanged_archives(spark):
    """Each task already ran PySpark's per-task invalidate_caches(); two
    more calls inside it must read no archive directory again."""
    # Defined here so cloudpickle ships it by value to the workers.
    def _count_rereads(_):
        import importlib
        import sys
        import zipimport

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        n_zip = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        yield n_zip, reads

    got = spark.sparkContext.parallelize(range(4), 4).mapPartitions(_count_rereads).collect()
    assert got and all(n_zip > 0 for n_zip, _ in got), got
    assert all(reads == [] for _, reads in got), got


@needs_zip_patch
def test_rewritten_archive_is_reread(tmp_path):
    """sc.addPyFile of an updated archive depends on invalidate_caches()
    still seeing a rewritten zip."""
    script = textwrap.dedent(
        f"""\
        import importlib, sys, zipfile, zipimport
        assert zipimport.zipimporter.invalidate_caches.__module__ == "sitecustomize"
        archive = {str(tmp_path / "lib.zip")!r}
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("mod_a.py", "X = 1\\n")
        sys.path.insert(0, archive)
        import mod_a
        assert mod_a.X == 1
        importlib.invalidate_caches()  # stamps the importer: unchanged, no re-read
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("mod_a.py", "X = 1\\n")
            z.writestr("mod_b.py", "Y = 2\\n")
        importlib.invalidate_caches()
        import mod_b
        assert mod_b.Y == 2
        print("ok")
        """
    )
    env = {**os.environ, "PYTHONPATH": pbshim._SHIM_PATH_DIR}
    proc = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True, timeout=60
    )
    assert proc.returncode == 0 and proc.stdout.strip() == "ok", proc.stderr


def test_bootstrap_exported_without_protobuf(monkeypatch):
    """The zip fix must reach workers on hosts where no protobuf runtime
    resolves; ensure_protobuf() still reports the runtime as missing."""
    monkeypatch.setattr(pbshim, "_bootstrap_current_process", lambda: False)
    monkeypatch.setenv("PYTHONPATH", "/elsewhere")
    assert pbshim.ensure_protobuf() is False
    assert os.environ["PYTHONPATH"].split(os.pathsep) == ["/elsewhere", pbshim._SHIM_PATH_DIR]

"""Interpreter-startup bootstrap for Python workers (see compat/pbshim.py).

``pbshim.ensure_protobuf()`` appends this directory to PYTHONPATH, so every
Python process the Spark JVM forks (pyspark.daemon / workers / the
transformWithState driver worker) runs it at startup: the stdlib ``site``
module imports ``sitecustomize`` from ``sys.path``. It does two things:

- **Zip directory reuse (CPython < 3.13).** PySpark calls
  ``importlib.invalidate_caches()`` at the start of every Python task
  (``pyspark/worker_util.py``, ``setup_spark_files``), and there
  ``zipimporter.invalidate_caches`` re-parses the whole central directory
  of its archive. A worker holds about 18 zipimporters over pyspark.zip,
  the spark-core jar and py4j's zip, so every task spent ~0.36 CPU s
  (CPython 3.11, 4-vCPU x86 VM) re-reading archives that had not changed. The replacement re-reads only
  when the archive's ``(st_mtime_ns, st_size, st_ino)`` differs from the
  one this importer last read at, so a rewritten archive (``sc.addPyFile``
  of a new version) is still picked up. The stamp is kept per importer
  because each importer holds its own copy of the directory
  (``self._files``): one importer having re-read a changed archive says
  nothing about the others over the same archive (one per package
  prefix). 3.13 already invalidates lazily and is left alone.
- **Protobuf runtime**, before any pyspark generated proto imports.

Failures here must never break an interpreter, hence the blanket guards."""

try:
    import os
    import sys

    if sys.version_info < (3, 13):
        import zipimport

        _reread_directory = zipimport.zipimporter.invalidate_caches

        def _invalidate_if_changed(self):
            try:
                st = os.stat(self.archive)
                stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
            except OSError:
                stamp = None
            # Stat before reading: a write racing the read leaves an old
            # stamp behind, so the next call reads again.
            if stamp is None or stamp != getattr(self, "_read_stamp", None):
                _reread_directory(self)
                self._read_stamp = stamp

        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
except Exception:  # pragma: no cover - never break interpreter startup
    pass

try:
    import importlib.util
    import os

    # Load pbshim.py by FILE PATH, not as gridmr_spark.compat.pbshim: the
    # package __init__ imports pyspark, which has no business running at
    # interpreter startup of every forked worker.
    _pbshim_py = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "pbshim.py"
    )
    _spec = importlib.util.spec_from_file_location("_gridmr_pbshim", _pbshim_py)
    _mod = importlib.util.module_from_spec(_spec)
    _spec.loader.exec_module(_mod)
    _mod._bootstrap_current_process()
except Exception:  # pragma: no cover - never break interpreter startup
    pass

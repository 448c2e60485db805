"""The worker-side model seam: one cache for every Python model stage.

Each Python-UDF task starts with pyspark's ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``). Before Python 3.13 that makes every
``zipimporter`` on the worker's path re-read its archive's whole
directory: ``pyspark.zip`` (1,328 entries) once per imported pyspark
sub-package and the spark-core jar (5,359 entries) twice, 0.16-0.43 s of
every task on 4 vCPU. The seam's first call in a worker guards that
re-read, and worker reuse (``session.py``) keeps the guard across tasks.
"""

from __future__ import annotations

import os
import sys
import zipimport
from typing import Callable

# model key -> loaded object, and the loads per key (1 after warm-up)
_MODELS: dict[str, object] = {}
LOADS: dict[str, int] = {}
# archive path -> (st_mtime_ns, st_size) when its directory was last read
_ARCHIVE_STAMPS: dict[str, tuple[int, int]] = {}


def _archive_stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _reread_if_changed(self, reread=zipimport.zipimporter.invalidate_caches):
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the file changed since its last read here."""
    stamp = _archive_stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None:
        if _ARCHIVE_STAMPS.get(self.archive) == stamp:
            self._files = files
            return
    reread(self)
    _ARCHIVE_STAMPS[self.archive] = stamp


def install_zip_guard() -> None:
    """Install ``_reread_if_changed`` (Python < 3.13 only: 3.13 drops the
    cache entry instead of re-reading it)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _reread_if_changed


def executor_model(key: str, load: Callable[[], object]) -> tuple[object, int]:
    """(object, load count) for ``key``, calling ``load()`` on its first
    use in this worker. Module-level on purpose: cloudpickle ships a
    module-level function by reference, so the cache it reads is this
    module's; a dict referenced from inside a UDF closure is shipped by
    value, a fresh copy per task."""
    if not _MODELS:  # the worker's first call
        install_zip_guard()
    model = _MODELS.get(key)
    if model is None:
        model = _MODELS[key] = load()
        LOADS[key] = LOADS.get(key, 0) + 1
    return model, LOADS[key]

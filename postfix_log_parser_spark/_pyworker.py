"""Stop Spark Python workers from re-reading zip archives on every task.

At the start of every task, pyspark's ``worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``.  Up to CPython 3.11 that makes
every ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's whole central directory at once.  A worker that imports pyspark
from ``pyspark.zip`` (1328 entries) holds about sixteen importers into it,
one per package directory, so each task re-reads that directory sixteen
times: about 0.2 s of Python CPU per task before it touches a row.
CPython 3.12 made the re-read lazy (gh-103200).

``install()`` wraps ``zipimporter.invalidate_caches`` so that an importer
re-reads its archive only when the archive's ``(st_mtime_ns, st_size)``
differs from what that importer last read; a changed or missing archive is
re-read exactly as before.  The key is kept per importer, not per archive
path, because each importer holds its own ``_files`` copy: one importer's
re-read does not refresh the others.

The package ``__init__`` calls ``install()``.  It acts only on CPython
< 3.12 and only inside a Spark Python worker, where ``worker.py`` sets the
task context before it unpickles the command that imports this package;
importing the library in a driver leaves the interpreter untouched.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark import TaskContext


def _archive_key(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def _skip_unchanged(original):
    def invalidate_caches(self):
        # stat before the read: an archive rewritten in between is re-read
        # again next time instead of being taken as current
        key = _archive_key(self.archive)
        if key is None or key != getattr(self, "_read_key", None):
            original(self)
            self._read_key = key

    invalidate_caches.skips_unchanged = True
    return invalidate_caches


def install() -> None:
    """Make zip importers skip unchanged archives; idempotent, and a no-op
    on CPython >= 3.12 or outside a Spark Python worker."""
    if sys.version_info >= (3, 12) or TaskContext.get() is None:
        return
    cls = zipimport.zipimporter
    if not getattr(cls.invalidate_caches, "skips_unchanged", False):
        cls.invalidate_caches = _skip_unchanged(cls.invalidate_caches)

"""Lazy zip-importer cache invalidation for PySpark Python workers.

Before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``.  On CPython < 3.13 that makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's central directory on the spot.  Workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` and hold one importer per imported
subpackage of it (16 in a worker that has run an Arrow UDF), so each task
parses the archive's 1,328-entry directory 16 times: 0.25-0.45 s of CPU on a
4-vCPU host before the first row reaches the kernel.

CPython 3.13 made the invalidation lazy (gh-103200): ``invalidate_caches``
only drops the archive's ``_zip_directory_cache`` entry, and the next
lookup through any importer of that archive re-reads it once
(``zipimporter._get_files``).  :func:`install` backports exactly that onto
the running ``zipimporter`` class, so importers that already exist pick it
up too.  Import semantics are kept: a rewritten archive is re-read on the
next lookup, a deleted one yields no modules.  As in 3.13, ``pkgutil``'s
zip walk reads ``_zip_directory_cache`` directly and so only sees an
archive that has been looked up since the last invalidation.

The package ``__init__`` calls :func:`install`; unpickling any kernel in a
worker imports the package, and workers are reused, so only the first task
of each worker still pays the eager re-read.
"""

from __future__ import annotations

import sys
import zipimport


def _get_files(self):
    """The archive's directory, read again if it was invalidated."""
    cache = zipimport._zip_directory_cache
    try:
        files = cache[self.archive]
    except KeyError:
        try:
            files = cache[self.archive] = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            files = {}
    return files


def _invalidate_caches(self):
    """Drop the archive's directory; the next lookup re-reads it."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def install() -> bool:
    """Backport the lazy invalidation; True if this call patched the class.

    A no-op on interpreters whose ``zipimport`` already has it.
    """
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or hasattr(cls, "_get_files"):
        return False
    cls._get_files = _get_files
    # The < 3.13 methods read ``self._files``; route them through the cache.
    # ``__init__`` assigns ``_files`` after caching the same directory, so
    # the setter has nothing to keep.
    cls._files = property(_get_files, lambda self, files: None)
    cls.invalidate_caches = _invalidate_caches
    # Existing importers hold a private (possibly stale) directory each;
    # the class property now shadows it, so release the memory.
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            vars(finder).pop("_files", None)
    return True

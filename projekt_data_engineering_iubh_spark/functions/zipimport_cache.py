"""Cheap zipimport cache invalidation for Python workers.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). Before Python 3.12 every
``zipimporter`` re-reads its archive's central directory there: a worker
holds about 16 of them over ``pyspark.zip``, the Spark core jar and
py4j, ~26.7k entries and ~250 ms of each task. Python 3.12 made that
call cheap. This module backports a cheap invalidation: an importer
re-reads its archive only when the archive's (inode, size, mtime_ns)
differ from those at its last read, so a rewritten archive is still
picked up.

Workers cannot import this package, so the fix travels inside the
functions it ships: ``attach(fn)`` hangs an object on ``fn`` whose
unpickling runs ``install()`` in the receiving process. This module is
pickled by value (``register_pickle_by_value``), so ``install`` needs
nothing but the standard library there. On Python >= 3.12 ``install``
does nothing.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from typing import TypeVar

from pyspark import cloudpickle

F = TypeVar("F", bound=Callable)


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives in
    this process. Idempotent.

    It runs while a worker unpickles a task's function, which pyspark does
    right after that task's ``setup_spark_files`` re-read every archive, so
    the identity recorded here for each cached archive is that of the
    directory in the cache.
    """
    if sys.version_info >= (3, 12):
        return
    import os
    import zipimport

    if getattr(zipimport.zipimporter.invalidate_caches, "by_identity", False):
        return
    reread = zipimport.zipimporter.invalidate_caches
    seen: dict[str, tuple[int, int, int] | None] = {}

    def identity(archive: str) -> tuple[int, int, int] | None:
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_ino, st.st_size, st.st_mtime_ns

    def invalidate_caches(self) -> None:
        # stat before reading: an archive rewritten during the read keeps
        # an identity that no longer matches, so the next call re-reads
        ident = identity(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if ident is not None and files is not None and seen.get(self.archive) == ident:
            self._files = files
            return
        reread(self)
        seen[self.archive] = ident

    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zipimport.zipimporter) and imp.archive in zipimport._zip_directory_cache:
            seen[imp.archive] = identity(imp.archive)
    invalidate_caches.by_identity = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


class _Installer:
    """Pickles as a call of ``install``; unpickles as its result (None)."""

    def __reduce__(self):
        return install, ()


def attach(fn: F) -> F:
    """Return ``fn`` carrying the fix: a worker that unpickles it installs
    the fix before running it. ``fn`` must be pickled by value, as a
    nested function is; a module-level one travels by reference, without
    its attributes."""
    fn.zipimport_cache = _Installer()
    return fn


cloudpickle.register_pickle_by_value(sys.modules[__name__])

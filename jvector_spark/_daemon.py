"""The Python worker daemon of every ``get_spark`` session
(``spark.python.daemon.module``): pyspark's own daemon, started after one
patch to ``importlib.invalidate_caches``.

pyspark's worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark/worker_util.py``). Under Python 3.11 that call makes every
``zipimporter`` on the worker's path re-read its archive's directory: one
per package directory of ``pyspark.zip``, each re-reading all of its
entries, about 0.2 s per task. The replacement keeps the rest of the 3.11
call: every meta-path finder's ``invalidate_caches``, ``PathFinder``'s
pruning of ``None`` and relative entries from ``sys.path_importer_cache``
and ``invalidate_caches`` on every other cached finder, and the
``_NamespacePath`` epoch bump. So a file written into a directory on the
path, or an archive added with ``addPyFile`` (a new path entry, so a new
importer), is still seen by the next task.

The one semantic change: an archive already on a worker's path is not
re-read when it is replaced in place.

Forked workers inherit the patch, and ``worker_util`` looks the function
up through the ``importlib`` module, so the patched function is the one
that runs. pyspark itself is not modified."""

import importlib
import sys
import zipimport
from importlib import _bootstrap_external
from importlib.machinery import PathFinder


def invalidate_caches_keeping_zip_directories():
    """``importlib.invalidate_caches`` of Python 3.11, minus the
    ``zipimporter`` directory re-reads."""
    for finder in sys.meta_path:
        if finder is not PathFinder:
            if hasattr(finder, "invalidate_caches"):
                finder.invalidate_caches()
            continue
        for name, cached in list(sys.path_importer_cache.items()):
            if cached is None or not _bootstrap_external._path_isabs(name):
                del sys.path_importer_cache[name]
            elif hasattr(cached, "invalidate_caches") and not isinstance(
                cached, zipimport.zipimporter
            ):
                cached.invalidate_caches()
        _bootstrap_external._NamespacePath._epoch += 1


if __name__ == "__main__":
    from pyspark import daemon

    importlib.invalidate_caches = invalidate_caches_keeping_zip_directories
    daemon.manager()

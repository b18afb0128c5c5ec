"""Skip zip-archive re-reads on ``importlib.invalidate_caches()`` when no
archive changed (a backport of CPython 3.12's gh-103200 fix to 3.11).

pyspark's Python worker calls ``importlib.invalidate_caches()`` before every
task (``worker_util.setup_spark_files``). Before 3.12, every
``zipimport.zipimporter`` then re-reads the whole directory of its archive,
and pyspark.zip alone has one importer per imported subpackage: a reused
worker re-read its 1,328 entries 16 times per task, 75-300 ms of task time
before the first batch.

``install()`` replaces ``zipimporter.invalidate_caches`` with a version that
re-reads an archive only when its ``(st_mtime_ns, st_size, st_ino)``
differs from the stat taken before its last read, and otherwise points the
importer at the directory of that read. An archive that changed or cannot
be stat'ed goes through the original method, so a rewritten or newly
shipped zip (``addPyFile``, ``--py-files``) is still re-read, once.
Install stamps every archive already read with its current stat: in a
worker, the task setup has just re-read them all. Idempotent; does nothing
on Python >= 3.12. Standard library only, so the kernel stays importable
without Spark.
"""

import functools
import os
import sys
import zipimport

# archive path -> (stat key before its last read, the directory it read)
_last_read: dict = {}


def _stat_key(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    if sys.version_info >= (3, 12):
        return
    importer = zipimport.zipimporter
    if getattr(importer.invalidate_caches, "_stat_checked", False):
        return
    original = importer.invalidate_caches

    @functools.wraps(original)
    def invalidate_caches(self):
        key = _stat_key(self.archive)
        last = _last_read.get(self.archive)
        if key is not None and last is not None and last[0] == key:
            self._files = last[1]
            return
        original(self)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and cached is self._files:  # the read succeeded
            _last_read[self.archive] = (key, self._files)
        else:
            _last_read.pop(self.archive, None)

    invalidate_caches._stat_checked = True
    for archive, files in list(zipimport._zip_directory_cache.items()):
        key = _stat_key(archive)
        if key is not None:
            _last_read[archive] = (key, files)
    importer.invalidate_caches = invalidate_caches

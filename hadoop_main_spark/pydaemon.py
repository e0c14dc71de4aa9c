"""Python worker daemon that keeps zip directories cached across tasks.

pyspark calls ``importlib.invalidate_caches()`` at the start of every
Python task (``pyspark.worker_util.setup_spark_files``). Up to CPython
3.12, each ``zipimporter`` in ``sys.path_importer_cache`` then re-reads
its archive's whole central directory. A reused worker holds about 16
importers over pyspark.zip (1,328 entries), so every task paid about
0.23 s of CPU before its UDF body, which often takes milliseconds.
CPython 3.13 reads the directory lazily instead (``zipimporter._get_files``).

:func:`install` gives older interpreters a cheaper rule: an archive is
read again only when its ``(mtime_ns, size, inode)`` has changed, so a
rewritten archive still shows its new modules. Run as a module, this
installs the rule and then runs ``pyspark.daemon.manager()``; the
workers it forks inherit the rule. ``hadoop_main_spark.session`` names
it in ``spark.python.daemon.module`` on local masters. Importing the
module changes nothing.
"""

from __future__ import annotations

import os
import zipimport


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when the file changed. Idempotent; a no-op on interpreters whose
    zipimport cache is already lazy."""
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files") or hasattr(cls.invalidate_caches, "reread"):
        return
    reread = cls.invalidate_caches
    cache = zipimport._zip_directory_cache
    read_at: dict[str, tuple[int, int, int] | None] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            sig = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            sig = None
        files = cache.get(self.archive)
        if sig is not None and sig == read_at.get(self.archive) and files is not None:
            # another importer of the same archive may have re-read it
            self._files = files
            return
        reread(self)
        read_at[self.archive] = sig

    invalidate_caches.reread = reread
    cls.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()

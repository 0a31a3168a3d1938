"""Python worker daemon for local sessions: `pyspark.daemon` with a
`zipimporter.invalidate_caches` that skips archives which have not changed.

Every Python task runs `pyspark.worker_util.setup_spark_files`, which
calls `importlib.invalidate_caches()`. Up to CPython 3.12,
`zipimporter.invalidate_caches` eagerly re-reads the whole central
directory of its archive, once per importer. A warm worker holds about 16
importers on `$SPARK_HOME/python/lib/pyspark.zip` (1,328 entries), so each
task paid 0.1-0.2 s of wall and CPU on a 4-vCPU host before its UDF ran,
even on a reused worker. CPython 3.13 made the method lazy; there it is
left alone.

`session.get_spark` runs this module as `spark.python.daemon.module` for
local masters only, where the workers share the driver's filesystem.
"""

from __future__ import annotations

import os
import zipimport


def is_eager(invalidate_caches) -> bool:
    """True for the CPython <= 3.12 method, which reads the archive
    directory on every call."""
    code = getattr(invalidate_caches, "__code__", None)
    return code is not None and "_read_directory" in code.co_names


def stamped(original):
    """A `zipimporter.invalidate_caches` that re-reads an archive only when
    its (st_mtime_ns, st_size) differs from the last read. Otherwise it
    points the importer at the directory already read, so every importer
    of that archive sees what a re-read would give. If the archive cannot
    be stat'ed, `original` decides."""
    last_read: dict[str, tuple[tuple[int, int], dict]] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            original(self)
            return
        stamp = (st.st_mtime_ns, st.st_size)
        seen = last_read.get(self.archive)
        if seen is not None and seen[0] == stamp:
            self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
            return
        # stat before the read: a rewrite in between leaves an old stamp,
        # so the next call reads again
        original(self)
        if self.archive in zipimport._zip_directory_cache:  # the read succeeded
            last_read[self.archive] = (stamp, self._files)

    return invalidate_caches


def main() -> None:
    import importlib

    if is_eager(zipimport.zipimporter.invalidate_caches):
        zipimport.zipimporter.invalidate_caches = stamped(zipimport.zipimporter.invalidate_caches)
        importlib.invalidate_caches()  # one read per archive here; forked workers inherit it
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()

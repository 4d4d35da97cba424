"""Stop Python tasks from re-reading an unchanged zip's directory.

pyspark's worker runs importlib.invalidate_caches() at the start of every
Python task (worker_util.setup_spark_files).  On CPython 3.10-3.12,
zipimporter.invalidate_caches re-reads its archive's central directory
then and there, and a forked worker holds 16 zipimporters, 12 over
pyspark.zip (3.5 MB, 1,328 entries, ~10 ms a read): 0.13-0.31 s of every
task (measured in a local[4] mapInArrow task on a 4-vCPU host, CPython
3.11.7) spent on an archive that does not change.

install() wraps the method so that an importer re-reads its archive only
when the archive's (st_ino, st_size, st_mtime_ns) differs from the last
read's; otherwise it takes the shared zipimport._zip_directory_cache
entry, which is what the re-read would have produced.  A zip replaced at
the same path (a re-shipped --py-files or addPyFile, written elsewhere
and moved in) has a new key and is re-read.  A failed stat or a missing
cache entry runs the stdlib method.  CPython 3.13's method is lazy (it
drops the cache entry and `_get_files` reads it on the next lookup); where
`_get_files` exists the stdlib is left as it is.

crumble_spark/__init__.py runs install(), so a reused worker that has run
one engine task reads no zip directory from its next task on.
"""

from __future__ import annotations

import os
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive -> its key at the last read; process-wide, as the stdlib's own
# zipimport._zip_directory_cache that it vouches for
_read_keys: dict[str, tuple[int, int, int]] = {}


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        return _stdlib_invalidate_caches(self)
    key = (st.st_ino, st.st_size, st.st_mtime_ns)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is None or _read_keys.get(self.archive) != key:
        # stat before the read: a swap in between leaves a stale key,
        # which costs one more read, never a stale directory
        _stdlib_invalidate_caches(self)
        _read_keys[self.archive] = key
    else:
        self._files = files


def install() -> bool:
    """Wrap zipimporter.invalidate_caches where the stdlib's reads eagerly;
    returns whether it is wrapped."""
    cls = zipimport.zipimporter
    if not hasattr(cls, "_get_files"):
        cls.invalidate_caches = _invalidate_caches
    return cls.invalidate_caches is _invalidate_caches

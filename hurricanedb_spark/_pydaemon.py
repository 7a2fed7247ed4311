"""PySpark worker daemon with lazy zip-directory invalidation.

Every Python task calls `importlib.invalidate_caches()` (pyspark
`worker_util.setup_spark_files`). Before CPython 3.13 that makes each
`zipimporter` re-read its archive's whole directory right away, so a worker
holding importers into pyspark.zip re-reads it once per importer per
task. This gives `zipimporter` the 3.13 behaviour: invalidation drops
the shared cache entry, and the next lookup re-reads it once. Then it
runs `pyspark.daemon`, whose forked workers inherit the patch.
"""

import runpy
import sys
import zipimport


def _files(self):
    cache = zipimport._zip_directory_cache
    if self.archive not in cache:
        try:
            cache[self.archive] = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            return {}
    return cache[self.archive]


def _invalidate_caches(self):
    zipimport._zip_directory_cache.pop(self.archive, None)


def install() -> bool:
    """Patch zipimporter where needed and possible; True if patched."""
    if sys.version_info >= (3, 13) or not all(
        hasattr(zipimport, n) for n in ("_zip_directory_cache", "_read_directory")
    ):
        return False
    # the setter swallows `self._files = ...` in zipimporter.__init__
    zipimport.zipimporter._files = property(_files, lambda self, files: None)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True


if __name__ == "__main__":
    install()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)

"""Keep Python workers from re-reading Spark's own import archives per task.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``).  On Python 3.11 that makes
every ``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
whole central directory.  A warm worker holds a dozen importers over
``pyspark.zip`` (1,328 entries), two over the py4j zip and two over the
spark-core jar (5,359 entries and no Python file): 124-257 ms per task
on a 4-core host, more than most engine UDFs spend on their rows.
Those archives belong to the Spark installation and do not change while
a worker lives; only pyFiles, which ``addPyFile`` can add between jobs
under the SparkFiles root, need the re-read.
"""

import os
import sys
import zipimport

# archives whose per-task re-read this worker process skips
frozen: frozenset = frozenset()


def freeze_spark_archives() -> None:
    """In a Python worker, make ``zipimporter.invalidate_caches`` skip every
    zip or jar archive already on ``sys.path``, except those under the
    SparkFiles root.  Outside a task (the driver, a plain Python process)
    it does nothing, so the driver's ``zipimport`` is never touched."""
    global frozen
    # a worker has always imported pyspark; importing it here would make
    # every geometry-only import of the package pay for it
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is None or taskcontext.TaskContext.get() is None:
        return
    from pyspark import SparkFiles

    pyfiles_root = os.path.join(os.path.abspath(SparkFiles.getRootDirectory()), "")
    frozen = frozenset(
        p for p in sys.path if os.path.isfile(p) and not os.path.abspath(p).startswith(pyfiles_root)
    )
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        if self.archive not in frozen:
            reread(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches

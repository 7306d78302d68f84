"""Python worker for local sessions that keeps zip directories cached across tasks.

``pyspark.worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``
at the start of every task. On Python 3.11 that makes every cached
``zipimporter`` re-read its archive's central directory (``pyspark.zip``, the
py4j zip, the Spark core jar, the shipped package zip): tens of thousands of
entries on every task. This module makes that re-read a no-op and is otherwise
``pyspark.worker``. Files shipped later still import: each is a new
``sys.path`` entry, which gets a fresh importer, and Spark refuses to re-ship a
file under the same name with different content.

``get_spark`` selects it with ``spark.python.worker.module`` for local
sessions. The daemon imports only worker modules whose name starts with
``pyspark``, hence the name; it lives alone in its directory so that putting
the directory on the workers' ``PYTHONPATH`` exposes no other module.
"""

import zipimport

zipimport.zipimporter.invalidate_caches = lambda self: None

if __name__ == "__main__":
    # spark.python.use.daemon=false starts each worker as `python -m <module>`
    import runpy

    runpy.run_module("pyspark.worker", run_name="__main__")
else:
    from pyspark.worker import main  # noqa: F401  (the daemon calls module.main)

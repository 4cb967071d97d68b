"""Ship the package to executors (``spark-submit --py-files`` analog).

Any plan containing a ``mapInPandas`` stage needs the
``pdftotext_spark`` package importable on every Python worker. Under
``spark-submit --py-files pdftotext_spark.zip`` that's the deploy
mechanism (north_rule); when the engine is imported into someone
else's SparkSession (the driver harness, a notebook), the workers may
share neither cwd nor PYTHONPATH with the driver — so every
UDF-bearing entry point calls :func:`ship_package` first, which zips
the installed package once per session and registers it with
``sc.addPyFile``. Idempotent and a no-op when already shipped.

Once on a worker, every Python UDF body calls
:func:`trim_import_caches` first. PySpark calls
``importlib.invalidate_caches()`` at the start of every task, and on
Python 3.11 that makes each ``zipimporter`` in
``sys.path_importer_cache`` re-read its archive's whole central
directory into a private copy. A reused worker holds one such finder
per zip on ``sys.path`` plus one per sub-package path it imported from
(13 for ``pyspark.zip`` alone), and Spark also puts
``spark-core_*.jar`` (15 MB, 5,359 entries, no Python in it) on the
worker's PYTHONPATH. Dropping the jar and the sub-package finders
stops those re-reads: on a 4-core host, the median "time to initialize
Python workers" of a reused worker's extraction task fell from about
275 ms to about 25 ms.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
import zipimport

from pyspark import TaskContext
from pyspark.sql import SparkSession

_shipped: set[str] = set()


def build_package_zip(dest_dir: str | None = None) -> str:
    """Zip the pdftotext_spark package (source tree) for --py-files."""
    import pdftotext_spark

    pkg_dir = os.path.dirname(os.path.abspath(pdftotext_spark.__file__))
    if dest_dir is None:
        dest_dir = tempfile.mkdtemp(prefix="pdftotext_spark_ship_")
    else:
        os.makedirs(dest_dir, exist_ok=True)
    zip_path = os.path.join(dest_dir, "pdftotext_spark.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fname in files:
                if not fname.endswith(".py"):
                    continue
                full = os.path.join(root, fname)
                rel = os.path.join(
                    "pdftotext_spark", os.path.relpath(full, pkg_dir)
                )
                zf.write(full, rel)
    return zip_path


def ship_package(spark: SparkSession) -> None:
    """Make pdftotext_spark importable on executors (once per app)."""
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _shipped:
        return
    sc.addPyFile(build_package_zip())
    _shipped.add(app_id)


def trim_import_caches() -> None:
    """Shrink the set of zip finders the next task start re-reads.

    Drops ``.jar`` entries from ``sys.path``, with their directories in
    ``zipimport._zip_directory_cache``, and forgets every cached
    ``zipimporter`` keyed on a path that is not itself on ``sys.path``
    (sub-package paths inside a zip, and the dropped jars). A later
    import re-creates such a finder from the directory cache without
    reading the archive. A no-op outside a Spark task, so a UDF body
    called on the driver leaves the driver's import state alone.
    """
    if TaskContext.get() is None:
        return
    for jar in [p for p in sys.path if p.endswith(".jar")]:
        sys.path.remove(jar)
        zipimport._zip_directory_cache.pop(jar, None)
    on_path = set(sys.path)
    for key, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and key not in on_path:
            del sys.path_importer_cache[key]

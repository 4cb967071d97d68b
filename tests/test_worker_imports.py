"""Worker-side import-cache trim (``sources.shipping.trim_import_caches``).

PySpark invalidates the import caches at the start of every task, which
makes every cached zip finder re-read its archive. The extraction body
trims those finders on the worker; this test checks what a later task
in the same reused worker sees. It runs its own ``local[1]`` session
in a subprocess so one Python worker serves every task, and from a
foreign cwd so the package comes from the shipped zip.
"""

import json
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent

pytestmark = pytest.mark.spark

FRESH_MODULE = "pdftotext_spark.streaming.sketches"

SCRIPT = """
import json, sys
sys.path.insert(0, {repo!r})

import pandas as pd
from pyspark.sql import SparkSession

from pdftotext_spark.plans.pipeline import extract_turns
from pdftotext_spark.sources.transcripts_gen import write_parquet

spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
write_parquet({inp!r}, n_turns=60, seed=5)
df = spark.read.parquet({inp!r} + "/transcripts.parquet").repartition(3)
assert df.rdd.getNumPartitions() >= 3
assert len(extract_turns(df).select("payload_kind").collect()) == 60


def probe(batches):
    import importlib
    import sys
    import zipimport

    for _ in batches:
        pass
    report = {{
        "ran_extraction": "pdftotext_spark.functions.extract" in sys.modules,
        "jars_on_path": [p for p in sys.path if p.endswith(".jar")],
        "jar_finders": [
            k
            for k, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter) and ".jar" in k
        ],
        "jar_dirs": [
            k for k in zipimport._zip_directory_cache if k.endswith(".jar")
        ],
        "fresh_was_loaded": {fresh!r} in sys.modules,
    }}
    importlib.import_module({fresh!r})
    report["fresh_imported"] = {fresh!r} in sys.modules
    yield pd.DataFrame({{"report": [json.dumps(report)]}})


rows = spark.range(1, numPartitions=1).mapInPandas(probe, "report string").collect()
print("REPORT " + rows[0].report)
spark.stop()
"""


def test_reused_worker_drops_jar_and_still_imports(tmp_path):
    script = SCRIPT.format(
        repo=str(REPO), inp=str(tmp_path / "in"), fresh=FRESH_MODULE
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=480,
        cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = next(
        ln for ln in proc.stdout.splitlines() if ln.startswith("REPORT ")
    )
    report = json.loads(line[len("REPORT ") :])
    # the probe ran in the worker that served the extraction tasks
    assert report["ran_extraction"], report
    assert report["jars_on_path"] == [], report
    assert report["jar_finders"] == [], report
    assert report["jar_dirs"] == [], report
    assert not report["fresh_was_loaded"], report
    assert report["fresh_imported"], report

"""The per-task zip re-read fix (dup_ocropy_spark/zipcache.py).

Each case runs in a fresh interpreter: the patch is process-wide and is
decided once, when the package is imported.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# builds zipped package ``zpkg`` (module ``a``) at ARCHIVE, imports from it
# and counts zipimport._read_directory calls per archive in READS
_PRELUDE = """
import collections, importlib, os, sys, zipfile, zipimport

ARCHIVE = sys.argv[1]

def write_zip(modules):
    with zipfile.ZipFile(ARCHIVE, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        for m in modules:
            z.writestr(f"zpkg/{m}.py", f"NAME = {m!r}\\n")

write_zip(["a"])
sys.path.insert(0, ARCHIVE)
import zpkg.a

READS = collections.Counter()
_read = zipimport._read_directory
def _counting(path):
    READS[path] += 1
    return _read(path)
zipimport._read_directory = _counting
STOCK = zipimport.zipimporter.invalidate_caches
"""

_AS_WORKER = """
from pyspark.core.files import SparkFiles
SparkFiles._is_running_on_worker = True
"""


def _run(tmp_path, body: str, worker: bool = True) -> None:
    script = _PRELUDE + (_AS_WORKER if worker else "") + textwrap.dedent(body)
    r = subprocess.run([sys.executable, "-c", script, str(tmp_path / "z.zip")],
                       cwd=ROOT, capture_output=True, text=True, timeout=120,
                       env={**os.environ, "PYTHONPATH": ROOT})
    assert r.returncode == 0, r.stderr


def test_unchanged_zip_is_not_reread_in_a_worker(tmp_path):
    _run(tmp_path, """
        import dup_ocropy_spark
        if sys.version_info >= (3, 13):
            sys.exit(0)
        assert zipimport.zipimporter.invalidate_caches is not STOCK
        importlib.invalidate_caches()
        # two importers (archive root and zpkg/) share one read
        assert READS[ARCHIVE] == 1, READS
        for _ in range(5):
            importlib.invalidate_caches()
        assert READS[ARCHIVE] == 1, READS
        import zpkg.a  # still importable from the kept directory
    """)


def test_rewritten_zip_is_reread_and_new_module_imports(tmp_path):
    _run(tmp_path, """
        import dup_ocropy_spark
        importlib.invalidate_caches()
        before = READS[ARCHIVE]
        write_zip(["a", "b"])
        importlib.invalidate_caches()
        assert READS[ARCHIVE] > before, READS
        import zpkg.b
        assert zpkg.b.NAME == "b"
    """)


def test_driver_process_keeps_stock_zipimport(tmp_path):
    _run(tmp_path, """
        import dup_ocropy_spark
        assert zipimport.zipimporter.invalidate_caches is STOCK
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        if sys.version_info < (3, 13):  # stock 3.11/3.12: every call re-reads
            assert READS[ARCHIVE] >= 2, READS
    """, worker=False)


def test_cpython_313_worker_keeps_stock_zipimport(tmp_path):
    _run(tmp_path, """
        V = collections.namedtuple("V", "major minor micro releaselevel serial")
        sys.version_info = V(3, 13, 0, "final", 0)
        import dup_ocropy_spark
        assert zipimport.zipimporter.invalidate_caches is STOCK
    """)


def test_spark_python_worker_runs_patched_importer(spark):
    def probe(batches):
        import sys
        import zipimport

        from dup_ocropy_spark import zipcache

        for _ in batches:
            pass
        yield pd.DataFrame({
            "patched": [zipimport.zipimporter.invalidate_caches is zipcache._invalidate_caches],
            "pre_313": [sys.version_info < (3, 13)],
        })

    rows = spark.range(4).repartition(2).mapInPandas(probe, "patched boolean, pre_313 boolean").collect()
    assert rows
    for r in rows:
        assert r.patched == r.pre_313

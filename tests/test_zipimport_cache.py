"""The zipimport fix the package's Python UDFs carry to the workers
(``functions/zipimport_cache.py``), checked in a fresh interpreter that,
like a pyspark worker, cannot import the package: it only unpickles the
sessionizer's function as pyspark ships it."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

from pyspark.serializers import CloudPickleSerializer

from projekt_data_engineering_iubh_spark.streaming.sessionize_stream import (
    OUTPUT_SCHEMA,
    make_sessionizer,
)

_WORKER = r"""
import collections, importlib, json, pickle, sys, zipfile, zipimport

archive, blob_path, as_312 = sys.argv[1], sys.argv[2], sys.argv[3] == "1"
sys.path.insert(0, archive)
import zmod_a

out = {"a": zmod_a.X}
try:
    import projekt_data_engineering_iubh_spark
    out["package_importable"] = True
except ImportError:
    out["package_importable"] = False

reads = []
read_directory = zipimport._read_directory
def counting(path):
    reads.append(path)
    return read_directory(path)
zipimport._read_directory = counting

def rereads():
    reads.clear()
    importlib.invalidate_caches()
    return reads.count(archive)

stock = zipimport.zipimporter.invalidate_caches
out["stock_rereads"] = rereads()
with open(blob_path, "rb") as f:
    blob = f.read()
if as_312:
    # what install() sees on Python 3.12; the function's own imports are
    # done first, under the real version
    import pandas, pyspark.cloudpickle
    Version = collections.namedtuple("Version", "major minor micro releaselevel serial")
    real, sys.version_info = sys.version_info, Version(3, 12, 0, "final", 0)
fn, schema = pickle.loads(blob)
out["patched"] = zipimport.zipimporter.invalidate_caches is not stock
patched = zipimport.zipimporter.invalidate_caches
pickle.loads(blob)
out["idempotent"] = zipimport.zipimporter.invalidate_caches is patched
if as_312:
    sys.version_info = real
out["unchanged_rereads"] = rereads() + rereads()

with zipfile.ZipFile(archive, "w") as z:
    z.writestr("zmod_a.py", "X = 1\n")
    z.writestr("zmod_b.py", "X = 2\n")
out["rewritten_rereads"] = rereads()
import zmod_b
out["b"] = zmod_b.X
out["after_rewrite_rereads"] = rereads()
print(json.dumps(out))
"""


def _run_worker(tmp_path, as_312: bool) -> dict:
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod_a.py", "X = 1\n")
    fn = make_sessionizer("Cycle_Start", "Cycle_End", "event_timestamp", "event_name")
    blob = tmp_path / "command.pkl"
    # the command pyspark pickles for applyInPandasWithState
    blob.write_bytes(CloudPickleSerializer().dumps((fn, OUTPUT_SCHEMA)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _WORKER, str(archive), str(blob), "1" if as_312 else "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["package_importable"] is False
    assert out["a"] == 1 and out["b"] == 2
    return out


def test_unpickled_sessionizer_skips_unchanged_zip_rereads(tmp_path):
    out = _run_worker(tmp_path, as_312=sys.version_info >= (3, 12))
    if sys.version_info >= (3, 12):
        assert out["patched"] is False
        return
    # stock 3.11: every invalidation re-reads the archive
    assert out["stock_rereads"] >= 1
    assert out["patched"] is True
    assert out["idempotent"] is True
    assert out["unchanged_rereads"] == 0
    # a rewritten archive is re-read once, and its new module imports
    assert out["rewritten_rereads"] >= 1
    assert out["after_rewrite_rereads"] == 0


def test_nothing_patched_on_python_312(tmp_path):
    out = _run_worker(tmp_path, as_312=True)
    assert out["patched"] is False
    if sys.version_info < (3, 12):
        # still the stock 3.11 behaviour: every invalidation re-reads
        assert out["unchanged_rereads"] == 2 * out["stock_rereads"] >= 2

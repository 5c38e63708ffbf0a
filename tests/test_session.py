"""The engine's Python worker daemon (``docarray_spark.worker_daemon``):
its stat-guarded zip-archive invalidation, checked in a plain process, and
its installation in the workers of a ``get_spark`` session."""

import json
import os
import subprocess
import sys
import uuid
import zipfile

import pyarrow as pa

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_GUARD_SCRIPT = r"""
import importlib, json, os, sys, zipfile, zipimport

import docarray_spark.worker_daemon  # installs the guard; starts no daemon

arc = sys.argv[1]
reads = []
_read = zipimport._read_directory


def counting(path):
    reads.append(path)
    return _read(path)


zipimport._read_directory = counting


def write(files):
    with zipfile.ZipFile(arc, "w") as z:  # rewrites the same inode
        for name, src in files.items():
            z.writestr(name, src)


def n_reads():
    return sum(p == arc for p in reads)


# two importers over one archive (the root and a prefix), as a worker holds
# one per package prefix of pyspark.zip
write({"shipped_a.py": "A = 1\n", "sub/shipped_c.py": "C = 3\n"})
sys.path[:0] = [arc, os.path.join(arc, "sub")]
import shipped_a
import shipped_c

out = {"guard": zipimport.zipimporter.invalidate_caches.__module__}
importlib.invalidate_caches()  # first call for each importer: a read
before = n_reads()
importlib.invalidate_caches()
importlib.invalidate_caches()
out["unchanged_rereads"] = n_reads() - before
write({"shipped_a.py": "A = 1\n", "shipped_b.py": "B = 22\n",
       "sub/shipped_c.py": "C = 3\n", "sub/shipped_d.py": "D = 44\n"})
before = n_reads()
importlib.invalidate_caches()
out["rewritten_rereads"] = n_reads() - before
import shipped_b
import shipped_d

out["new"] = [shipped_b.B, shipped_d.D]
os.remove(arc)
importlib.invalidate_caches()
out["deleted_ok"] = True
print(json.dumps(out))
"""


def test_guard_rereads_only_changed_archives(tmp_path):
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-c", _GUARD_SCRIPT, str(tmp_path / "shipped.zip")],
        env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out == {
        "guard": "docarray_spark.worker_daemon",
        "unchanged_rereads": 0,
        "rewritten_rereads": 2,
        "new": [22, 44],
        "deleted_ok": True,
    }


def _one_row(spark, fn, schema):
    return spark.range(0, 4, numPartitions=2).mapInArrow(fn, schema).collect()


def test_workers_run_under_the_engine_daemon(spark):
    def guard_module(batches):
        import zipimport

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"m": [zipimport.zipimporter.invalidate_caches.__module__]}
        )

    rows = _one_row(spark, guard_module, "m string")
    assert {r.m for r in rows} == {"docarray_spark.worker_daemon"}


def test_add_py_file_after_tasks_imports_in_workers(spark, tmp_path):
    """A zip shipped once the workers already ran tasks is importable in a
    later task: new archives get a fresh importer, as before."""
    _one_row(spark, lambda it: it, "id long")
    mod = f"shipped_{uuid.uuid4().hex[:12]}"
    arc = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(arc, "w") as z:
        z.writestr(f"{mod}.py", "VALUE = 'shipped'\n")
    spark.sparkContext.addPyFile(str(arc))

    def load(batches):
        import importlib

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"v": [importlib.import_module(mod).VALUE]})

    assert {r.v for r in _one_row(spark, load, "v string")} == {"shipped"}

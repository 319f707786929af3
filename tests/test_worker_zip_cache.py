"""Lazy zip-directory invalidation in Python workers (geomesa_spark's
_lazy_zip_invalidation): PySpark's worker calls importlib.invalidate_caches()
on every task, and before CPython 3.13 that re-parses every cached zip
archive's central directory once per importer. Inside a worker the import of
geomesa_spark makes the re-read happen only for an archive that changed."""

import os
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

import pandas as pd
import pytest

ROOT = Path(__file__).resolve().parents[1]

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13's zipimport is lazy; the installer is a no-op"
)


def test_worker_invalidate_rereads_only_changed_archives(tmp_path):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        for name, src in {"m1.py": "X = 1\n", "zpkg/__init__.py": "", "zpkg/a.py": "A = 1\n"}.items():
            zf.writestr(name, src)
    script = textwrap.dedent(
        """
        import importlib, pkgutil, sys, zipfile, zipimport
        archive = sys.argv[1]
        sys.path.insert(0, archive)
        import m1, zpkg.a  # importers for the archive and for its zpkg/ prefix
        reads = []
        inner = zipimport._read_directory
        def counted(path):
            reads.append(path)
            return inner(path)
        zipimport._read_directory = counted
        n_importers = sum(
            getattr(imp, "archive", None) == archive for imp in sys.path_importer_cache.values()
        )
        importlib.invalidate_caches()
        before = reads.count(archive)  # the stock behaviour: one read per importer

        from pyspark import TaskContext
        TaskContext._setTaskContext(TaskContext._getOrCreate())
        import geomesa_spark  # noqa: F401 -- installs inside a task
        del reads[:]
        for _ in range(3):
            importlib.invalidate_caches()
        unchanged = len(reads)

        with zipfile.ZipFile(archive, "a") as zf:
            zf.writestr("m2.py", "Y = 2\\n")
        importlib.invalidate_caches()
        changed = reads.count(archive)
        import m2
        names = sorted(m.name for m in pkgutil.iter_modules([archive]))
        print(n_importers, before, unchanged, changed, m2.Y, ",".join(names))
        """
    )
    r = subprocess.run(
        [sys.executable, "-c", script, str(archive)],
        capture_output=True, text=True, timeout=120, cwd=str(ROOT),
        env={**os.environ, "PYTHONPATH": str(ROOT)},
    )
    assert r.returncode == 0, r.stderr[-3000:]
    n_importers, before, unchanged, changed, y, names = r.stdout.split()
    assert int(n_importers) >= 2 and int(before) == int(n_importers)
    assert int(unchanged) == 0
    assert int(changed) == 1  # once per archive, not once per importer
    assert int(y) == 2
    assert names == "m1,m2,zpkg"


def test_local_worker_rereads_nothing_after_first_task(spark):
    """Each task reports the zip directory reads its worker made since that
    worker's previous probe task; a worker's first probe task installs the
    counter and reports -1."""

    def probe(batches):
        import zipimport

        import geomesa_spark  # noqa: F401

        reads = getattr(zipimport, "_probe_reads", None)
        if reads is None:
            reads = zipimport._probe_reads = [0]
            inner = zipimport._read_directory

            def counted(path):
                reads[0] += 1
                return inner(path)

            zipimport._read_directory = counted
            seen = -1
        else:
            seen, reads[0] = reads[0], 0
        for _ in batches:
            pass
        lazy = isinstance(vars(zipimport.zipimporter).get("_files"), property)
        yield pd.DataFrame({"reads": [seen], "lazy": [lazy]})

    rows = []
    for _ in range(3):
        df = spark.range(0, 8, numPartitions=8).mapInPandas(
            probe, "reads long, lazy boolean"
        )
        rows += df.collect()
    assert all(r["lazy"] for r in rows)
    later = [r["reads"] for r in rows if r["reads"] >= 0]
    assert later, "no worker ran two probe tasks"
    assert later == [0] * len(later)
    import zipimport

    assert "_files" not in vars(zipimport.zipimporter)  # the driver's zipimport stays stock

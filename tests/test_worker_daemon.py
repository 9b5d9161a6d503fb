"""The Python worker daemon (``clinical_data_warehouse_bi_spark.daemon``):
stat-checked zip-importer invalidation, workers forked with the Arrow
stack already imported, and the package root on the workers' path."""

from __future__ import annotations

import importlib
import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

from clinical_data_warehouse_bi_spark import daemon


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """No re-read while the archive is unchanged; a rewritten archive is
    read again, and every importer over it (here the package's as well
    as the root's) sees the new modules."""
    archive = str(tmp_path / "mods.zip")
    pkg = "_cdwbi_zip_probe"
    files = {f"{pkg}/__init__.py": "", f"{pkg}/first.py": "X = 1\n"}
    _write_zip(archive, files)
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real(p)
    )
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", daemon.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(f"{pkg}.first").X == 1
        importlib.invalidate_caches()  # stamps the archive
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
            assert importlib.util.find_spec(f"{pkg}.first") is not None
        assert archive not in reads  # unchanged: never re-read

        _write_zip(archive, {**files, f"{pkg}/second.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module(f"{pkg}.second").Y == 2
        assert archive in reads
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == pkg]:
            del sys.modules[name]


def test_workers_fork_from_the_library_daemon(spark):
    def report(it):
        import sys
        import zipimport

        import pandas as pd

        mods = list(sys.modules)
        # sys.modules keeps first-import order: pyarrow ahead of
        # pyspark.daemon means the daemon imported it before it forked
        preloaded = "pyspark.daemon" in mods and (
            mods.index("pyarrow") < mods.index("pyspark.daemon")
        )
        invalidate = zipimport.zipimporter.invalidate_caches.__code__.co_filename
        for _ in it:
            yield pd.DataFrame(
                {"invalidate": [invalidate], "pyarrow_preloaded": [preloaded]}
            )

    rows = (
        spark.range(0, 64, numPartitions=4)
        .mapInPandas(report, "invalidate string, pyarrow_preloaded boolean")
        .distinct()
        .collect()
    )
    assert len(rows) == 1, rows
    assert os.path.realpath(rows[0]["invalidate"]) == os.path.realpath(daemon.__file__)
    assert rows[0]["pyarrow_preloaded"]


def test_workers_import_the_library_from_any_directory(tmp_path):
    """get_spark gives the Python workers the package root: a script
    run from outside the repo, with the repo on its own sys.path only,
    runs a library mapInPandas function (without it every Python task
    fails with ModuleNotFoundError)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys
sys.path.insert(0, {repo!r})
from clinical_data_warehouse_bi_spark.session import get_spark
from clinical_data_warehouse_bi_spark.similarity import centroid_rank

spark = get_spark("workers-path", shuffle_partitions=2)
vecs = spark.range(4).selectExpr(
    "id AS vec_id", "array(1.0D, CAST(id AS DOUBLE)) AS embedding"
)
print(sorted(tuple(r) for r in centroid_rank(vecs, [(7, [1.0, 0.0])], 1).collect()))
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == str(
        [(i, 7, 1) for i in range(4)]
    )

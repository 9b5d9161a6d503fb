"""The Python worker daemon (``clinical_data_warehouse_bi_spark.daemon``):
stat-checked zip-importer invalidation, and workers forked with the
Arrow stack already imported."""

from __future__ import annotations

import importlib
import importlib.util
import os
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

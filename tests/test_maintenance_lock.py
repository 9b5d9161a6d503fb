"""Single-writer maintenance lock (round-8 verdict item 8): the
"run compactions between micro-batches" caveat is now an enforced
contract — an append or read issued while a LIVE maintenance holder
owns a sink's lock fails fast with MaintenanceInProgressError instead
of racing the rename swap, and a crashed holder's lock self-heals."""

from __future__ import annotations

import os
import subprocess

import pytest
from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark import retrieval
from clinical_data_warehouse_bi_spark.io import (
    MaintenanceInProgressError,
    compact_parquet_dir,
    maintenance_lock,
    recover_compacted_dir,
)


def _docs(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("spark join hash "), F.col("id").cast("string")).alias("text"),
    )


def test_append_rejected_while_maintenance_live(spark, tmp_path):
    """The failure mode the round-8 docstrings only warned about:
    an append landing inside an active compaction window. With the
    lock held by a live process (this one), the appender's
    recover-before-touch raises instead of interleaving."""
    idx = str(tmp_path / "bm25_idx")
    postings = os.path.join(idx, "postings")
    retrieval.bm25_index_build(_docs(spark, 0, 10), idx, n_buckets=4)
    with maintenance_lock(postings):
        with pytest.raises(MaintenanceInProgressError):
            retrieval.bm25_index_append(_docs(spark, 10, 20), idx, "b1")
        with pytest.raises(MaintenanceInProgressError):
            recover_compacted_dir(postings)
    # window closed: the same append now succeeds
    assert retrieval.bm25_index_append(_docs(spark, 10, 20), idx, "b1") is True
    assert retrieval.bm25_index_search(spark, idx, ["hash"], 100).count() == 20


def test_second_maintenance_attempt_rejected(spark, tmp_path):
    p = str(tmp_path / "sink")
    spark.range(10).write.parquet(p)
    with maintenance_lock(p):
        with pytest.raises(MaintenanceInProgressError):
            with maintenance_lock(p):
                pass


def test_stale_lock_self_heals(spark, tmp_path):
    """A compactor that died mid-window must not brick the sink: the
    lock records the holder pid; a genuinely dead holder's lock is
    cleared on the next recover pass."""
    p = str(tmp_path / "sink")
    spark.range(10).write.parquet(p)
    proc = subprocess.run(["sh", "-c", "echo $$"], capture_output=True, text=True)
    dead_pid = int(proc.stdout.strip())  # this shell has exited
    with open(f"{p}.maintenance-lock", "w") as f:
        f.write(str(dead_pid))
    recover_compacted_dir(p)  # no raise: stale lock swept
    assert not os.path.exists(f"{p}.maintenance-lock")


def test_compaction_takes_and_releases_lock(spark, tmp_path):
    p = str(tmp_path / "sink")
    spark.range(10).coalesce(1).write.parquet(p)
    spark.range(10, 20).coalesce(1).write.mode("append").parquet(p)
    stats = compact_parquet_dir(spark, p, target_files=1)
    assert stats["rows"] == 20
    assert not os.path.exists(f"{p}.maintenance-lock")
    # the raise path releases too (unreadable dir -> read fails)
    bad = str(tmp_path / "missing")
    with pytest.raises(Exception):
        compact_parquet_dir(spark, bad, target_files=1)
    assert not os.path.exists(f"{bad}.maintenance-lock")


# ------------------------------------------- publish_index_dir races


def _mk_index(dirpath, meta_name, tag):
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, meta_name), "w") as f:
        f.write(tag)


def test_publish_index_dir_clean_and_lost_race(tmp_path):
    from clinical_data_warehouse_bi_spark.io import publish_index_dir

    meta = "_meta.json"
    # clean publish: build dir renamed into place
    b1 = str(tmp_path / "a.build")
    p1 = str(tmp_path / "a")
    _mk_index(b1, meta, "mine")
    publish_index_dir(b1, p1, meta)
    assert open(os.path.join(p1, meta)).read() == "mine"
    assert not os.path.exists(b1)

    # lost race: a COMPLETE index already serves -> build discarded,
    # winner untouched
    b2 = str(tmp_path / "a.build2")
    _mk_index(b2, meta, "loser")
    publish_index_dir(b2, p1, meta)
    assert open(os.path.join(p1, meta)).read() == "mine"
    assert not os.path.exists(b2)


def test_publish_index_dir_replaces_corrupt_leftover(tmp_path):
    from clinical_data_warehouse_bi_spark.io import publish_index_dir

    meta = "_meta.json"
    p = str(tmp_path / "idx")
    os.makedirs(p)  # exists but NO meta marker: corrupt leftover
    with open(os.path.join(p, "postings.parquet"), "w") as f:
        f.write("junk")
    b = str(tmp_path / "idx.build")
    _mk_index(b, meta, "rebuilt")
    publish_index_dir(b, p, meta)
    assert open(os.path.join(p, meta)).read() == "rebuilt"


def test_publish_index_dir_concurrent_winner_mid_repair(tmp_path,
                                                        monkeypatch):
    """The round-11 ADVICE hole: a concurrent builder publishes a
    complete index BETWEEN our rmtree(corrupt path) and our retry
    rename. The retry's OSError must re-enter the meta check and
    discard our build — not propagate (old code) and not clobber the
    winner."""
    from clinical_data_warehouse_bi_spark import io as io_mod
    from clinical_data_warehouse_bi_spark.io import publish_index_dir

    meta = "_meta.json"
    p = str(tmp_path / "idx")
    os.makedirs(p)  # corrupt: no meta
    b = str(tmp_path / "idx.build")
    _mk_index(b, meta, "loser")

    real_rename = os.rename
    calls = {"n": 0}

    def racy_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 1:
            # simulate: target still exists (non-empty dir) -> fail,
            # and the concurrent winner publishes right after our
            # rmtree cleared it
            _mk_index(p, meta, "winner")
            raise OSError("rename race")
        return real_rename(src, dst)

    monkeypatch.setattr(io_mod.os, "rename", racy_rename)
    publish_index_dir(b, p, meta)  # must NOT raise
    assert open(os.path.join(p, meta)).read() == "winner"
    assert not os.path.exists(b)


def test_publish_index_dir_exhaustion_raises(tmp_path, monkeypatch):
    from clinical_data_warehouse_bi_spark import io as io_mod
    from clinical_data_warehouse_bi_spark.io import publish_index_dir

    meta = "_meta.json"
    p = str(tmp_path / "idx")
    b = str(tmp_path / "idx.build")
    _mk_index(b, meta, "mine")

    def always_fail(src, dst):
        raise OSError("disk says no")

    monkeypatch.setattr(io_mod.os, "rename", always_fail)
    with pytest.raises(OSError):
        publish_index_dir(b, p, meta, attempts=3)
    assert not os.path.exists(b)  # never leaks half-built dirs

"""The build-once index cache (io.cached_index) and its atomic
publish (io.publish_index_dir): a published index directory is
complete iff its meta marker exists, a contended publish survives a
lost race and a corrupt leftover, and the cache follows the content
of the input table, not just its path. No Spark work."""

from __future__ import annotations

import os

import pytest

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
        publish_index_dir(b, p, meta)
    assert not os.path.exists(b)  # never leaks half-built dirs


# ------------------------------------------------- cached_index key


def test_cached_index_follows_input_content(tmp_path, monkeypatch):
    """Rewriting the input table in place rebuilds into a new cache
    directory and removes the old generation, leaving a concurrent
    build's scratch directory and the index of another source with the
    same tag alone; an unchanged input is served from the cache
    without a build."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from clinical_data_warehouse_bi_spark.io import cached_index

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf = tmp_path / "sf"
    os.makedirs(sf)
    src = str(sf / "documents.parquet")
    meta = "_meta.json"
    builds = []

    def build(d):
        builds.append(d)
        _mk_index(d, meta, str(len(builds)))

    pq.write_table(pa.table({"doc_id": [1, 2], "text": ["a", "b"]}), src)
    pq.write_table(pa.table({"doc_id": [4], "text": ["d"]}), str(sf / "other.parquet"))
    other = cached_index(str(sf), "other", "t1", meta, build)
    first = cached_index(str(sf), "documents", "t1", meta, build)
    scratch = f"{first}.build-0"  # a concurrent builder's, mid-build
    os.makedirs(scratch)
    pq.write_table(pa.table({"doc_id": [1, 2, 3], "text": ["a", "b", "c"]}), src)
    second = cached_index(str(sf), "documents", "t1", meta, build)
    assert len(builds) == 3
    assert first != second
    assert open(os.path.join(second, meta)).read() == "3"
    assert cached_index(str(sf), "documents", "t1", meta, build) == second
    assert len(builds) == 3
    # one generation of the rewritten source remains: the new one
    left = sorted(os.listdir(tmp_path))
    assert left == sorted(
        os.path.basename(p) for p in (other, second, scratch, str(sf))
    )
    assert open(os.path.join(other, meta)).read() == "1"

"""Smoke test of scripts/ab.py, the A/B harness: one Spark arm and one
DuckDB arm on a cheap oracle-checked query agree and report executor
CPU and tasks, two arms that disagree make it exit non-zero, and a
replica run leaves no replica behind."""

from __future__ import annotations

import glob
import os
import tempfile

from scripts import ab


def test_spark_and_duckdb_arms_agree_and_report_cpu(sf_dir):
    arms = [ab.Arm("spark", sf_dir), ab.Arm("duck", sf_dir)]
    rows, status = ab.compare([[(a, "q_join_lookup_cast") for a in arms]], pairs=2)
    assert status == 0
    spark, duck = rows[0]["cells"]
    assert rows[0]["agree"] and spark["checksum"] == duck["checksum"]
    assert not spark["checksum"].startswith("0:")
    run, _ = spark["runs"]
    assert run["cpu_s"] > 0 and run["tasks"] > 0
    assert run["wall_s"] > 0 and duck["runs"][0]["wall_s"] > 0
    # warm-up drift: the median wall of each half of a cell's runs
    halves = spark["summary"]["halves"]
    assert [halves["first_s"], halves["second_s"]] == [r["wall_s"] for r in spark["runs"]]
    assert halves["warming"] == (
        halves["first_s"] - halves["second_s"] > spark["summary"]["wall_s"]["iqr"])
    # a second half faster by more than the IQR is flagged, a slower one is not
    for walls, warming in (([4.0, 3.0, 1.0, 0.5], True), ([0.5, 1.0, 3.0, 4.0], False)):
        cell = {"query": "q", "arm": "a", "checksum": "c",
                "runs": [dict(run, wall_s=w) for w in walls]}
        ab._report(cell, cell)
        assert cell["summary"]["halves"]["warming"] is warming


def test_a_checksum_mismatch_exits_non_zero(sf_dir):
    duck = ab.Arm("duck", sf_dir)
    rows, status = ab.compare(
        [[(duck, "q_join_lookup_cast"), (duck, "q_join_normalized")]], pairs=1
    )
    assert status == 1
    assert rows[0]["agree"] is False
    a, b = rows[0]["cells"]
    assert a["checksum"] != b["checksum"]


def test_factor_run_removes_its_replicas(sf_dir):
    """--factor 2 builds the 2x replica in a per-run temp dir and
    removes it when the run ends."""
    pattern = os.path.join(tempfile.gettempdir(), "spark_graft_scale_*")
    before = set(glob.glob(pattern))
    assert ab.main(["--sf-dir", sf_dir, "--factor", "2", "--pairs", "1",
                    "q_join_lookup_cast"]) == 0
    assert set(glob.glob(pattern)) <= before

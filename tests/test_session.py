"""The JVM settings `session.get_spark` starts the driver with."""

from __future__ import annotations


def test_driver_jvm_caps_the_young_generation(spark):
    """Without the cap G1 grows eden toward 60% of the heap by steps
    that follow pause timing, so peak RSS varies from run to run
    (session.py's module docstring)."""
    runtime = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    assert "-XX:MaxNewSize=512m" in list(runtime.getInputArguments())

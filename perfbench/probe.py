"""Ambient-overhead probe, copied verbatim from ``bench.py`` (round 5).

The body is pure ``spark.range`` compute plus one 32-way shuffle: no
parquet and no package code, so its time tracks only the machine's
scheduler, CPU and JVM conditions. The benchmark records one reading per
run, after the timed loop, as context for triaging phantom regressions;
it is not a metric.
Do not edit ``_calibration_once`` or ``CALIBRATION_REF_SEC``: readings are
comparable across rounds only while the body is unchanged.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

CALIBRATION_REF_SEC = 0.3626  # reference reading at the round-5 commit, min of 3x3


def _calibration_once(spark) -> float:
    t0 = time.perf_counter()
    (
        spark.range(0, 20_000_000, 1, 32)
        .select((F.col("id") % 9973).alias("k"), "id")
        .groupBy("k")
        .agg(F.sum("id").alias("s"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t0


def reading(spark) -> dict:
    """One call on the warm session (``bench.py`` takes the best of three
    after a warm-up call; one call keeps the run short)."""
    sec = _calibration_once(spark)
    return {
        "probe_sec": sec,
        "ref_sec": CALIBRATION_REF_SEC,
        "ambient_ratio": round(sec / CALIBRATION_REF_SEC, 3),
    }

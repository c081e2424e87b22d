"""Scale utilities: footer row counts, ANN recall at the sf1 bench
corpus, and the bench's measurement window."""

from __future__ import annotations

import pytest


def test_approx_row_count_uses_footers_not_scan(spark):
    """File-backed frames size from parquet footer metadata (VERDICT r2
    #4): exact for a plain scan, env hint wins, and non-file frames
    fall back to count()."""
    import os

    from miso_spark.functions.stats import approx_row_count
    from tests.conftest import SF_DIR

    df = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    assert approx_row_count(df) == df.count()

    os.environ["MISO_SPARK_ROWCOUNT_HINT"] = "123456"
    try:
        assert approx_row_count(df) == 123456
    finally:
        del os.environ["MISO_SPARK_ROWCOUNT_HINT"]

    mem = spark.range(777)
    assert approx_row_count(mem) == 777


def test_ann_recall_floor_at_sf1(spark):
    """ANN recall gate at the sf1 corpus size (VERDICT r12 #3):
    ``planes_for_rows(N)`` changes the LSH bucket geometry with N, so
    recall@10 vs exact brute force is asserted at 10× the bench scale,
    not just the unit-test corpus. Floors sit WELL below the measured
    means (ivf 0.675, lsh probes=16 0.40, lsh default 0.125 on the v4
    sign-flip corpus — whose true top-10 live at cosine ~0.4-0.5, a
    weak-similarity regime where hyperplane LSH needs a large probe
    budget by construction; BASELINE.md documents the envelope).
    Deterministic end to end: fixed query ids, seeded IVF k-means,
    derived plane ids."""
    import os

    import bench

    sf1 = os.path.join(os.path.dirname(bench.__file__), ".sf1_cache")
    if not os.path.exists(os.path.join(sf1, "_DONE")):
        pytest.skip("sf1 cache not materialized (run bench.py once)")
    rec = bench._ann_recall_sf1(spark, sf1)
    assert rec["ivf_default"] >= 0.45, rec
    assert rec["lsh_probes16"] >= 0.20, rec
    # r14: probes defaults to the recall-safe 1 + P + C(P,2) budget —
    # the DEFAULT now holds multi-probe recall (measured 0.4-0.6 band)
    assert rec["lsh_default"] >= 0.20, rec
    # the explicit single-probe mode trades recall for a 1/2^planes
    # scan — must still beat random chance (10/20000) by orders of
    # magnitude
    assert rec["lsh_single"] >= 0.05, rec


def test_bench_measure_times_build_through_drain(spark, monkeypatch):
    """bench.measure's window opens before the entry's builder runs
    (eager build work counts like execution) and closes after the
    drain, and every entry gets a shuffle profile of its own runs."""
    import time

    import bench

    def sleepy(spark, sf_dir):
        time.sleep(0.3)
        return spark.range(100).repartition(2)

    monkeypatch.setitem(bench.EXTRA_BENCH, "sleepy_build", sleepy)
    best, first, profile = bench.measure(spark, "sleepy_build", "unused", 1)
    assert best >= 0.3 and first >= 0.3, (best, first)
    assert profile["shuffle_bytes"] > 0, profile
    assert profile["shuffle_records"] == 100, profile

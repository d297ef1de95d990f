"""Driver actions the spatial joins launch while they are BUILT.

The joins are lazy except for documented size/decision probes (pip's
edge-blob collect and span stats, radius_join's broadcast guard,
knn_join's per-round ``isEmpty`` exit).  Each case counts the Spark
jobs started between the call and its return, on fixed data, so a
change that adds or removes an eager action shows up here.
"""

import itertools

import numpy as np
import pandas as pd
import pytest

from proj_spark.operators.joins import knn_join, pip_join, radius_join

_GROUPS = itertools.count()


def _build_jobs(spark, build) -> int:
    """Jobs launched by ``build()`` (run under its own job group)."""
    sc = spark.sparkContext
    group = f"join-build-{next(_GROUPS)}"
    sc.setJobGroup(group, "join construction")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def data(spark):
    rng = np.random.default_rng(21)
    lon = rng.uniform(-60, 60, 4000)
    lat = rng.uniform(-60, 60, 4000)
    # a void of radius 8 deg around (0, 0): a query there finds no
    # candidate in its ring-1 block at level 6 (cells 5.6 x 2.8 deg)
    # and is proven by the first expansion round (ring 4)
    keep = np.hypot(lon, lat) > 8.0
    pts = spark.createDataFrame(pd.DataFrame({
        "point_id": np.arange(int(keep.sum())),
        "lon": lon[keep], "lat": lat[keep]}))
    polys = spark.createDataFrame(pd.DataFrame([{
        "poly_id": "p0",
        "rings": [[[10.0, 10.0], [20.0, 10.0], [20.0, 20.0], [10.0, 20.0],
                   [10.0, 10.0]]],
    }]))
    near = spark.createDataFrame(pd.DataFrame({
        "query_id": [0, 1], "lon": [30.0, -25.0], "lat": [30.0, 15.0]}))
    void = spark.createDataFrame(pd.DataFrame({
        "query_id": [0, 1], "lon": [30.0, 0.0], "lat": [30.0, 0.0]}))
    return pts, polys, near, void


def _plan(df) -> str:
    return df._jdf.queryExecution().toString()


# Counts measured on this data with AQE on (it runs each shuffle or
# broadcast stage under an action as a job of its own).
@pytest.mark.parametrize("case, want", [
    ("pip_pinned_level", 1),         # edge-blob collect
    ("pip_adaptive_level", 3),       # + bbox-span stats (agg: 2 jobs)
    ("radius_default_guard", 2),     # LIMIT-bounded query count
    ("radius_broadcast_forced", 0),  # fully lazy
    ("knn_round1_proven", 5),        # one isEmpty over round 1
    ("knn_one_expansion", 14),       # one isEmpty per round
])
def test_join_build_jobs(spark, data, case, want):
    pts, polys, near, void = data
    build = {
        "pip_pinned_level": lambda: pip_join(pts, polys, level=6),
        "pip_adaptive_level": lambda: pip_join(pts, polys),
        "radius_default_guard": lambda: radius_join(pts, near, 200_000.0),
        "radius_broadcast_forced": lambda: radius_join(
            pts, near, 200_000.0, broadcast_queries=True),
        "knn_round1_proven": lambda: knn_join(pts, near, k=3, level=6),
        "knn_one_expansion": lambda: knn_join(pts, void, k=3, level=6),
    }[case]
    out = []
    assert _build_jobs(spark, lambda: out.append(build())) == want
    if case.startswith("knn"):
        # neither knn case reaches the brute-force pass
        assert "BroadcastNestedLoopJoin" not in _plan(out[0])

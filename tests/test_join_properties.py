"""Property tests: radius_join and knn_join against a numpy brute force.

Both joins are exact: the cell blocks only prune.  Generated inputs mix
random coordinates with the antimeridian (lon +-179.99) and the poles
(lat +-89.99), repeat point coordinates, include an empty query side,
and pin levels 0..3 where a ring block (2r+1 cells) wraps the whole
longitude circle.  Distances are compared within 1 m: near-antipodal
pairs put haversine's asin at its steep end, where JVM and numpy
rounding differ by centimetres.
"""

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from proj_spark.operators.joins import EARTH_RADIUS_M, knn_join, radius_join

_SETTINGS = dict(deadline=None, derandomize=True, database=None,
                 suppress_health_check=[HealthCheck.function_scoped_fixture,
                                        HealthCheck.too_slow])
_TOL_M = 1.0

_LON = st.one_of(st.sampled_from([-179.99, 179.99, 0.0]),
                 st.floats(-180.0, 180.0))
_LAT = st.one_of(st.sampled_from([-89.99, 89.99, 0.0]),
                 st.floats(-90.0, 90.0))


@st.composite
def _tables(draw):
    pts = [(draw(_LON), draw(_LAT)) for _ in range(draw(st.integers(1, 20)))]
    pts += [draw(st.sampled_from(pts)) for _ in range(draw(st.integers(0, 4)))]
    qs = [draw(st.one_of(st.tuples(_LON, _LAT), st.sampled_from(pts)))
          for _ in range(draw(st.integers(0, 4)))]
    return pts, qs, draw(st.integers(0, 3))


_POLAR = ([(-179.99, 89.99), (179.99, 89.99), (0.0, -89.99), (0.0, -89.99),
           (179.99, 0.0), (-179.99, 0.0), (10.0, 10.0)],
          [(179.99, 89.99), (-179.99, 0.0), (0.0, -89.99)], 2)
_EMPTY_QUERIES = ([(1.0, 2.0), (1.0, 2.0)], [], 1)


def _frames(spark, pts, qs):
    P = spark.createDataFrame(
        pd.DataFrame({"point_id": range(len(pts)),
                      "lon": [p[0] for p in pts], "lat": [p[1] for p in pts]}),
        "point_id long, lon double, lat double")
    Q = spark.createDataFrame(
        pd.DataFrame({"query_id": range(len(qs)),
                      "lon": [q[0] for q in qs], "lat": [q[1] for q in qs]}),
        "query_id long, lon double, lat double")
    return P, Q


def _dist(qs, pts) -> np.ndarray:
    """(queries x points) haversine metres, same sphere as haversine_col."""
    q = np.radians(np.asarray(qs, dtype=np.float64).reshape(-1, 2))
    p = np.radians(np.asarray(pts, dtype=np.float64).reshape(-1, 2))
    la1, lo1 = q[:, 1:2], q[:, 0:1]
    la2, lo2 = p[None, :, 1], p[None, :, 0]
    h = (np.sin((la2 - la1) / 2) ** 2
         + np.cos(la1) * np.cos(la2) * np.sin((lo2 - lo1) / 2) ** 2)
    return 2 * EARTH_RADIUS_M * np.arcsin(np.minimum(1.0, np.sqrt(h)))


@settings(max_examples=8, **_SETTINGS)
@given(_tables(), st.sampled_from([2_000.0, 400_000.0, 3_000_000.0]))
@example(_POLAR, 2_000.0)
@example(_EMPTY_QUERIES, 400_000.0)
def test_radius_join_matches_bruteforce(spark, case, radius):
    pts, qs, level = case
    P, Q = _frames(spark, pts, qs)
    got = radius_join(P, Q, radius, level=level).toPandas()
    pairs = list(zip(got["query_id"].astype(int), got["point_id"].astype(int)))
    assert len(pairs) == len(set(pairs))
    d = _dist(qs, pts)
    inside = {(q, p) for q, p in zip(*np.nonzero(d <= radius - _TOL_M))}
    maybe = {(q, p) for q, p in zip(*np.nonzero(d <= radius + _TOL_M))}
    assert inside <= set(pairs) <= maybe
    for (q, p), dm in zip(pairs, got["dist_m"]):
        assert abs(dm - d[q, p]) <= _TOL_M


@settings(max_examples=5, **_SETTINGS)
@given(_tables(), st.integers(1, 4))
@example(_POLAR, 3)
@example(_EMPTY_QUERIES, 2)
def test_knn_join_matches_bruteforce(spark, case, k):
    pts, qs, level = case
    P, Q = _frames(spark, pts, qs)
    got = knn_join(P, Q, k=k, level=level).toPandas()
    assert set(got["query_id"].astype(int)) == set(range(len(qs)))
    d = _dist(qs, pts)
    m = min(k, len(pts))
    for q, rows in got.groupby("query_id"):
        rows = rows.sort_values("rank")
        assert list(rows["rank"]) == list(range(1, m + 1))
        ids = rows["point_id"].astype(int).to_numpy()
        assert len(set(ids)) == m
        # the k smallest distances, up to ties; each row's own distance
        np.testing.assert_allclose(rows["dist_m"], np.sort(d[q])[:m],
                                   rtol=0, atol=_TOL_M)
        np.testing.assert_allclose(rows["dist_m"], d[q, ids],
                                   rtol=0, atol=_TOL_M)

"""Geometry struct codec + transform tests, incl. K16 (Rect/MultiPoint
corner semantics, /root/reference/src/geo_types.rs:324-359)."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from proj_spark.operators.geometry import (
    GEOMETRY_DDL,
    geom_bounds_udf,
    geom_linestring,
    geom_multipoint,
    geom_multipolygon,
    geom_polygon,
    geom_rect,
    transform_geometry,
)

_P1 = (4760096.421921, 3744293.729449)
_P2 = (4760196.421921, 3744393.729449)
_E1 = (1450880.2910605022, 1141263.0111604782)
_E2 = (1450910.771121464, 1141293.4912214363)


def _df(spark, geoms):
    pdf = pd.DataFrame([{"gid": i, "geom": g} for i, g in enumerate(geoms)])
    return spark.createDataFrame(pdf, schema=f"gid long, geom struct<{GEOMETRY_DDL}>")


def test_k16_rect_and_multipoint(spark):
    # K16: Rect transformed by its 2 corners; MultiPoint by each point
    # (tolerance 0.2 in the reference test)
    df = _df(spark, [geom_rect(_P1, _P2), geom_multipoint([_P1, _P2])])
    out = transform_geometry(df, "EPSG:2230", "EPSG:26946").toPandas()
    for row in out["geom"]:
        pts = row["parts"][0]
        assert abs(pts[0][0] - _E1[0]) < 0.2 and abs(pts[0][1] - _E1[1]) < 0.2
        assert abs(pts[1][0] - _E2[0]) < 0.2 and abs(pts[1][1] - _E2[1]) < 0.2


def test_linestring_batch_and_polygon_rings(spark):
    ring_out = [[-10.0, -10.0], [10.0, -10.0], [10.0, 10.0], [-10.0, 10.0], [-10.0, -10.0]]
    hole = [[-1.0, -1.0], [1.0, -1.0], [1.0, 1.0], [-1.0, 1.0], [-1.0, -1.0]]
    df = _df(
        spark,
        [
            geom_linestring([(-116.5, 32.5), (-116.0, 33.0), (-115.5, 33.5)]),
            geom_polygon([ring_out, hole]),
        ],
    )
    out = transform_geometry(df, "EPSG:4326", "EPSG:3857").toPandas()
    ls = out["geom"][0]
    assert len(ls["parts"][0]) == 3
    # mercator x = a * radians(lon)
    assert abs(ls["parts"][0][0][0] - 6378137.0 * np.radians(-116.5)) < 1e-6
    poly = out["geom"][1]
    assert len(poly["parts"]) == 2  # ring count preserved (exterior + hole)
    assert len(poly["parts"][1]) == 5


def test_geom_bounds(spark):
    df = _df(spark, [geom_linestring([(0.0, 5.0), (10.0, -3.0), (4.0, 8.0)])])
    b = df.select(geom_bounds_udf()(F.col("geom")).alias("b")).select("b.*").collect()[0]
    assert (b["minx"], b["miny"], b["maxx"], b["maxy"]) == (0.0, -3.0, 10.0, 8.0)


def test_multilinestring_roundtrip(spark):
    from proj_spark.operators.geometry import geom_multilinestring

    lines = [[_P1, _P2], [(4760300.0, 3744100.0), (4760400.0, 3744200.0),
                          (4760500.0, 3744300.0)]]
    df = _df(spark, [geom_multilinestring(lines)])
    out = transform_geometry(df, "EPSG:2230", "EPSG:26946")
    back = transform_geometry(out, "EPSG:26946", "EPSG:2230").toPandas()
    g = back["geom"][0]
    assert g["kind"] == "MultiLineString"
    assert len(g["parts"]) == 2 and len(g["parts"][1]) == 3
    for part, src in zip(g["parts"], lines):
        for got, want in zip(part, src):
            assert abs(got[0] - want[0]) < 1e-5
            assert abs(got[1] - want[1]) < 1e-5
    # the forward transform hits the K16 expected corner
    fwd = transform_geometry(_df(spark, [geom_multilinestring(lines)]),
                             "EPSG:2230", "EPSG:26946").toPandas()["geom"][0]
    assert abs(fwd["parts"][0][0][0] - _E1[0]) < 0.2


def test_geometry_collection_rows_roundtrip(spark):
    from proj_spark.operators.geometry import (
        geom_collection_rows,
        geom_point,
        geom_triangle,
    )

    members = geom_collection_rows([
        geom_point(*_P1),
        geom_triangle(_P1, _P2, (4760150.0, 3744350.0)),
    ])
    # one row per member, collection index in offsets[0]
    assert [m["offsets"][0] for m in members] == [0, 1]
    df = _df(spark, members)
    out = transform_geometry(df, "EPSG:2230", "EPSG:26946").toPandas()
    kinds = set(out["geom"].map(lambda g: g["kind"]))
    assert kinds == {"Point", "Triangle"}
    for g in out["geom"]:
        assert abs(g["parts"][0][0][0] - _E1[0]) < 0.2
        assert abs(g["parts"][0][0][1] - _E1[1]) < 0.2


def test_multipolygon_transform_keeps_offsets(spark):
    # two polygons, the second with a hole: kind and per-polygon ring
    # offsets survive, every vertex equals the scalar Transform path
    from proj_spark.crs import Transform

    polys = [
        [[(-116.5, 32.5), (-116.0, 32.5), (-116.0, 33.0), (-116.5, 32.5)]],
        [[(-118.0, 34.0), (-117.0, 34.0), (-117.0, 35.0), (-118.0, 35.0),
          (-118.0, 34.0)],
         [(-117.8, 34.2), (-117.2, 34.2), (-117.2, 34.8), (-117.8, 34.2)]],
    ]
    g = geom_multipolygon(polys)
    assert g["offsets"] == [0, 1]
    out = transform_geometry(_df(spark, [g]), "EPSG:4326",
                             "EPSG:6366").toPandas()["geom"][0]
    assert out["kind"] == "MultiPolygon"
    assert list(out["offsets"]) == [0, 1]
    t = Transform.new_known_crs("EPSG:4326", "EPSG:6366")
    rings = [ring for rings in polys for ring in rings]
    assert [len(p) for p in out["parts"]] == [len(r) for r in rings]
    for part, ring in zip(out["parts"], rings):
        for got, (x, y) in zip(part, ring):
            wx, wy = t.convert(x, y)
            assert abs(got[0] - wx) < 1e-6 and abs(got[1] - wy) < 1e-6

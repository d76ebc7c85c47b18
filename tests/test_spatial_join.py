"""Cell-join + PIP refinement vs a brute-force even-odd reference."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geograypher_spark.functions import geometry as geom
from geograypher_spark.operators import spatial_join as SJ
from geograypher_spark.sources.scene import scene_to_spark


def _even_odd(px, py, polys):
    """Reference PIP, independent of the engine's kernel: a ray to +x
    crosses an odd number of ring edges of some part (holes lie inside
    their exterior, so even-odd is exterior minus holes)."""
    for rings in polys:
        inside = False
        for ring in rings:
            pts = [tuple(v) for v in ring]
            for (x0, y0), (x1, y1) in zip(pts, pts[1:] + pts[:1]):
                if (y0 > py) != (y1 > py) and \
                        px < x0 + (py - y0) * (x1 - x0) / (y1 - y0):
                    inside = not inside
        if inside:
            return True
    return False


def _inside_pairs(points, polys):
    """{(point_id, polygon_id)} for (id, x, y) points and {id: parts}."""
    return {(int(i), pid) for i, px, py in points
            for pid, p in polys.items() if _even_odd(px, py, p)}


def brute_force_pip(scene):
    """(face_id, polygon_id) pairs where the face centroid is inside."""
    f = scene.faces
    polys = {int(p["polygon_id"]): geom.wkb_to_rings(p["wkb"])
             for p in scene.polygons}
    return _inside_pairs(
        zip(f["face_id"].tolist(), f["cx"].tolist(), f["cy"].tolist()), polys)


def test_points_in_polygons_matches_bruteforce(spark, scene):
    verts, faces, polys, cams = scene_to_spark(spark, scene)
    joined = SJ.points_in_polygons(
        faces.select("face_id", F.col("cx").alias("x"), F.col("cy").alias("y")),
        polys.select("polygon_id", "geometry_wkb"),
    )
    got = {(r["face_id"], r["polygon_id"]) for r in joined.collect()}
    assert got == brute_force_pip(scene)
    assert len(got) > 0


def test_broadcast_and_shuffle_join_same_result(spark, scene):
    verts, faces, polys, cams = scene_to_spark(spark, scene)
    pts = faces.select("face_id", F.col("cx").alias("x"), F.col("cy").alias("y"))
    pg = polys.select("polygon_id", "geometry_wkb")
    bcast = SJ.points_in_polygons(pts, pg)
    shuffled = SJ.points_in_polygons(pts, pg, broadcast_covering=False)
    a = {(r["face_id"], r["polygon_id"]) for r in bcast.collect()}
    b = {(r["face_id"], r["polygon_id"]) for r in shuffled.collect()}
    assert a == b == brute_force_pip(scene)


def test_covering_cells_superset_of_hits(spark, scene):
    """Candidate stage must never lose a true hit (covering is an overestimate)."""
    verts, faces, polys, cams = scene_to_spark(spark, scene)
    cover = SJ.polygon_covering_cells(polys.select("polygon_id", "geometry_wkb"))
    cov = cover.groupBy("polygon_id").count().collect()
    assert all(r["count"] >= 1 for r in cov)
    # every oracle hit appears in the candidate join
    pts = SJ.with_cell(
        faces.select("face_id", F.col("cx").alias("x"), F.col("cy").alias("y")))
    cand = pts.join(cover, "cell").select("face_id", "polygon_id")
    cand_set = {(r["face_id"], r["polygon_id"]) for r in cand.collect()}
    assert brute_force_pip(scene).issubset(cand_set)


def test_pip_udf_batch_grouping(spark):
    """pip_udf handles batches containing multiple distinct polygons."""
    sq1 = geom.polygon_to_wkb([np.array([[0, 0], [1, 0], [1, 1], [0, 1.0]])])
    sq2 = geom.polygon_to_wkb([np.array([[10, 10], [11, 10], [11, 11], [10, 11.0]])])
    pdf = pd.DataFrame({
        "x": [0.5, 10.5, 0.5, 10.5],
        "y": [0.5, 10.5, 10.5, 0.5],
        "wkb": [sq1, sq2, sq1, sq2],
    })
    df = spark.createDataFrame(pdf)
    got = df.select(SJ.pip_udf("x", "y", "wkb").alias("hit")).collect()
    assert [r["hit"] for r in got] == [True, True, False, False]


def test_concave_polygons_with_holes_match_even_odd(spark):
    """Random concave polygons with holes plus a two-part multipolygon;
    points uniform over the scene and just inside/outside every edge."""
    rng = np.random.default_rng(7)
    polys = {}
    for pid in range(3):
        # star-shaped concave ring; the hole shrinks it about its centre
        ang = 2 * np.pi * np.arange(9) / 9 + rng.uniform(0, 0.5, 9)
        rad = rng.uniform(1.0, 4.0, 9)
        c = rng.uniform(3, 7, 2)
        ring = c + rad[:, None] * np.stack([np.cos(ang), np.sin(ang)], axis=1)
        hole = (c + (ring - c) * 0.15)[::-1]
        polys[pid] = [[ring, hole]]
    sq = np.array([[0, 0], [1, 0], [1, 1], [0, 1.0]])
    polys[3] = [[sq + 8.0], [sq * 2 + [8.0, 1.5]]]
    wkb = {pid: (geom.polygon_to_wkb(p[0]) if len(p) == 1
                 else geom.multipolygon_to_wkb(p))
           for pid, p in polys.items()}

    xy = list(rng.uniform(-1, 11, size=(400, 2)))
    for p in polys.values():
        for rings in p:
            for ring in rings:
                a, b = ring, np.roll(ring, -1, axis=0)
                n = (b - a)[:, ::-1] * [1, -1]
                n /= np.linalg.norm(n, axis=1, keepdims=True)
                for off in (1e-6, -1e-6):
                    xy += list((a + b) / 2 + off * n)
    pts = [(i, float(px), float(py)) for i, (px, py) in enumerate(xy)]
    points = spark.createDataFrame(pts, "point_id long, x double, y double")
    polygons = spark.createDataFrame(
        [(pid, w) for pid, w in wkb.items()],
        "polygon_id int, geometry_wkb binary")
    got = {(r["point_id"], r["polygon_id"])
           for r in SJ.points_in_polygons(points, polygons).collect()}
    expect = _inside_pairs(pts, polys)
    assert got == expect
    assert {pid for _, pid in expect} == set(polys) and len(expect) > 100

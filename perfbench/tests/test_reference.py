"""The numpy reference used by the survey_reverse check."""

import numpy as np
import pandas as pd

from perfbench.workloads import even_odd, reference_face_classes


def test_even_odd_matches_the_engine_kernel():
    from geograypher_spark.functions.geometry import points_in_ring

    rng = np.random.default_rng(3)
    ang = np.sort(rng.uniform(0, 2 * np.pi, 9))
    ring = np.stack([np.cos(ang) * rng.uniform(0.5, 1, 9),
                     np.sin(ang) * rng.uniform(0.5, 1, 9)], axis=1)
    closed = np.vstack([ring, ring[:1]])
    px, py = rng.uniform(-1.2, 1.2, (2, 5000))
    # include the ring's own vertices (boundary cases)
    px = np.concatenate([px, ring[:, 0]])
    py = np.concatenate([py, ring[:, 1]])
    assert (even_odd(px, py, ring) == points_in_ring(px, py, closed)).all()


def test_face_vote_takes_majority_then_lowest_class():
    from geograypher_spark.functions.geometry import polygon_to_wkb

    verts = pd.DataFrame({"vert_id": [10, 11, 12, 13],
                          "x": [0.5, 0.6, 5.0, 9.0], "y": [0.5, 0.6, 5.0, 9.0]})
    square = lambda x0: [np.array([[x0, 0.0], [x0 + 1, 0.0], [x0 + 1, 1.0], [x0, 1.0]])]
    polys = pd.DataFrame({"geometry_wkb": [polygon_to_wkb(square(0.0)),
                                           polygon_to_wkb(square(4.5))],
                          "class_id": [2, 1]})
    polys.loc[1, "geometry_wkb"] = polygon_to_wkb(
        [np.array([[4.5, 4.5], [5.5, 4.5], [5.5, 5.5], [4.5, 5.5]])])
    faces = pd.DataFrame({"face_id": [0, 1, 2],
                          "v0": [10, 12, 13], "v1": [11, 13, 13],
                          "v2": [12, 10, 13]})
    got = reference_face_classes(verts, faces, polys)
    assert got.to_dict() == {0: 2, 1: 1, 2: -1}

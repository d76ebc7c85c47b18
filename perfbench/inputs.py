"""Seeded benchmark inputs, generated once per (workload, seed, size) and
cached under ``.perfbench/inputs/`` in the checkout.

Every generator is a pure function of its seed: the same seed writes the
same tables. The engine only ever sees the written files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Survey sizes. FORWARD follows the paper's nadir survey (objects on a
# triangulated ground plane, a square camera grid); REVERSE is denser and
# has enough object footprints that the PIP refine exceeds the 512-edge
# inlining budget of spatial_join.pip_filter_expr.
FORWARD = dict(n_boxes=4, n_cylinders=5, n_cones=3, size=10.0,
               distance_thresh=1.2, ground_grid=60, camera_grid=3,
               image_size=200, object_height=1.0, n_targets=40)
REVERSE = dict(n_boxes=34, n_cylinders=33, n_cones=33, size=24.0,
               distance_thresh=1.2, ground_grid=40, camera_grid=2,
               image_size=160, object_height=1.0)
# Row counts of the documents/embeddings/TPC-H-style tables read by the
# doc_queries workload (the sf0.1 shape of the engine's query contract).
DOC_TABLES = dict(lineitem=600_000, orders=150_000, parts=20_000,
                  supplier=1_000, customer=15_000, documents=5_000,
                  embeddings=2_000, dim=64)

TAU = 0.005            # proximity threshold of the detections pipeline
TARGET_SEPARATION = 0.05   # min distance between rays of different targets
FOCAL_PER_PX = 0.6     # focal length per image pixel (make_scene's 120/200)


def cache_dir(root: str, workload: str, seed: int, params: dict) -> str:
    tag = hashlib.sha256(json.dumps(params, sort_keys=True).encode()).hexdigest()[:10]
    return os.path.join(root, ".perfbench", "inputs", f"{workload}-s{seed}-{tag}")


def cached(path: str, build) -> str:
    """Run ``build(tmp_dir)`` unless ``path`` is complete; publish atomically."""
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


# ---------------------------------------------------------------------------
# Survey scenes
# ---------------------------------------------------------------------------

def make_survey(seed: int, p: dict):
    from geograypher_spark.sources.scene import make_scene

    return make_scene(
        n_boxes=p["n_boxes"], n_cylinders=p["n_cylinders"],
        n_cones=p["n_cones"], seed=seed, size=p["size"],
        distance_thresh=p["distance_thresh"], ground_grid=p["ground_grid"],
        object_height=p["object_height"], camera_grid=p["camera_grid"],
        image_size=p["image_size"],
        focal=FOCAL_PER_PX * p["image_size"])


def write_scene_tables(scene, out: str) -> None:
    """verts / faces / polygons / cameras as Parquet, typed like
    ``scene_to_spark``."""
    pq.write_table(pa.Table.from_pandas(pd.DataFrame(scene.verts),
                                        preserve_index=False),
                   os.path.join(out, "verts.parquet"))
    faces = pd.DataFrame(scene.faces).drop(columns=["object_id"])
    pq.write_table(pa.Table.from_pandas(faces, preserve_index=False),
                   os.path.join(out, "faces.parquet"))
    polys = pd.DataFrame([
        {"polygon_id": int(p["polygon_id"]), "geometry_wkb": p["wkb"],
         "class_id": int(p["class_id"]), "class_name": p["class_name"]}
        for p in scene.polygons])
    pq.write_table(pa.Table.from_pandas(polys, preserve_index=False),
                   os.path.join(out, "polygons.parquet"))
    pq.write_table(pa.Table.from_pandas(pd.DataFrame(scene.cameras),
                                        preserve_index=False),
                   os.path.join(out, "cameras.parquet"))


def object_top_detections(scene, p: dict, rng: np.random.Generator):
    """Seeded targets on the flat tops of boxes and cylinders, projected
    into every camera that sees them.

    A target is dropped when one of its rays passes within
    ``TARGET_SEPARATION`` of a ray aimed at an earlier target, so every
    target's rays form exactly one proximity component.
    Returns (detections DataFrame, targets (n, 3), ray_length).
    """
    from geograypher_spark.functions import camera as cam_fn
    from geograypher_spark.functions import geometry as geom

    tops = [geom.wkb_to_rings(q["wkb"])[0][0] for q in scene.polygons
            if q["class_id"] in (0, 1)]
    cams = scene.cameras
    c2ws = [np.asarray(c["cam_to_world"], dtype=np.float64).reshape(4, 4)
            for c in cams]
    cand = []
    for _ in range(p["n_targets"]):
        ring = tops[int(rng.integers(len(tops)))]
        centre = ring.mean(axis=0)
        # a point well inside the top face (convex ring, shrunk to 60 %)
        corner = ring[int(rng.integers(len(ring)))]
        t = rng.uniform(0.0, 0.6)
        xy = centre + t * (corner - centre)
        cand.append(np.array([xy[0], xy[1], p["object_height"]]))
    max_dist = max(float(np.linalg.norm(tg - c2w[:3, 3]))
                   for tg in cand for c2w in c2ws)
    ray_length = round(max_dist + 0.5, 3)

    def rays_of(tg):
        out = []
        for c, c2w in zip(cams, c2ws):
            px, py, z = cam_fn.project_points(
                tg[None, :], c2w, c["f"], c["cx"], c["cy"], c["w"], c["h"])
            if not cam_fn.in_image_mask(px, py, z, c["w"], c["h"])[0]:
                continue
            s, e = cam_fn.cast_rays(px, py, c2w, c["f"], c["cx"], c["cy"],
                                    c["w"], c["h"], length=ray_length)
            out.append((int(c["camera_id"]), float(px[0]), float(py[0]),
                        s[0], e[0]))
        return out

    kept, kept_rays = [], []
    for tg in cand:
        rays = rays_of(tg)
        if len(rays) < 2:
            continue
        if kept_rays:
            s0 = np.array([r[3] for r in rays]); e0 = np.array([r[4] for r in rays])
            s1 = np.array([r[3] for r in kept_rays]); e1 = np.array([r[4] for r in kept_rays])
            ii, jj = np.meshgrid(np.arange(len(s0)), np.arange(len(s1)), indexing="ij")
            _, _, d = cam_fn.segment_pair_closest(
                s0[ii.ravel()], e0[ii.ravel()], s1[jj.ravel()], e1[jj.ravel()])
            if float(d.min()) <= TARGET_SEPARATION:
                continue
        kept.append(tg)
        kept_rays.extend(rays)
    rows = []
    rid = 0
    for tg in kept:
        for cam_id, px, py, _, _ in rays_of(tg):
            rows.append({"detection_id": rid, "camera_id": cam_id,
                         "px": px, "py": py})
            rid += 1
    det = pd.DataFrame(rows).astype({"detection_id": "int64",
                                     "camera_id": "int64"})
    return det, np.array(kept), ray_length


def forward_inputs(spark, root: str, seed: int) -> str:
    """survey_forward: the scene encoded as interleaved documents plus
    media payloads (``docs_from_scene``), seeded detections, and the raw
    scene tables the correctness reference is computed from."""
    def build(out):
        from geograypher_spark.sources.docs import docs_from_scene

        scene = make_survey(seed, FORWARD)
        docs, payloads = docs_from_scene(spark, scene, seed=seed)
        docs.coalesce(1).write.parquet(os.path.join(out, "documents"))
        payloads.coalesce(1).write.parquet(os.path.join(out, "media_payloads"))
        write_scene_tables(scene, out)
        det, targets, ray_length = object_top_detections(
            scene, FORWARD, np.random.default_rng(seed + 1))
        pq.write_table(pa.Table.from_pandas(det, preserve_index=False),
                       os.path.join(out, "detections.parquet"))
        np.save(os.path.join(out, "targets.npy"), targets)
        with open(os.path.join(out, "meta.json"), "w") as fh:
            json.dump({"ray_length": ray_length, "tau": TAU,
                       "n_faces": int(len(scene.faces["face_id"])),
                       "n_detections": int(len(det))}, fh)

    return cached(cache_dir(root, "survey_forward", seed, FORWARD), build)


def reverse_inputs(root: str, seed: int) -> str:
    def build(out):
        write_scene_tables(make_survey(seed, REVERSE), out)

    return cached(cache_dir(root, "survey_reverse", seed, REVERSE), build)


# ---------------------------------------------------------------------------
# Document / table corpus for doc_queries
# ---------------------------------------------------------------------------

_VOCAB = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Random texts over a 30-word vocabulary; 5 % of the documents are
    near-duplicates of an earlier one (a few words replaced, a 'dup'
    marker appended), so the Jaccard/MinHash queries find real pairs."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(len(words)))] = _VOCAB[int(rng.integers(len(_VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[j] for j in rng.integers(0, len(_LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def doc_tables(root: str, seed: int) -> str:
    p = DOC_TABLES

    def build(out):
        rng = np.random.default_rng(seed)
        n = p["lineitem"]
        base = np.datetime64("1992-01-01")
        li = pd.DataFrame({
            "l_orderkey": rng.integers(0, p["orders"], n),
            "l_partkey": rng.integers(0, p["parts"], n),
            "l_suppkey": rng.integers(0, p["supplier"], n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105000, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": base + rng.integers(0, 3650, n).astype("timedelta64[D]"),
        })
        ns, nc = p["supplier"], p["customer"]
        sup = pd.DataFrame({
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns),
            "s_acctbal": np.round(rng.uniform(-999, 9999, ns), 2),
        })
        cust = pd.DataFrame({
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc),
            "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2),
            "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                      "HOUSEHOLD", "MACHINERY"])[rng.integers(0, 5, nc)],
        })
        ne, dim = p["embeddings"], p["dim"]
        v = rng.standard_normal((ne, dim)).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        emb = pa.table({
            "vec_id": pa.array(np.arange(ne, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, ne).astype(np.int32)),
        })
        for name, df in (("lineitem", li), ("supplier", sup),
                         ("customer", cust),
                         ("documents", _documents(rng, p["documents"]))):
            pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                           os.path.join(out, f"{name}.parquet"))
        pq.write_table(emb, os.path.join(out, "embeddings.parquet"))

    return cached(cache_dir(root, "doc_queries", seed, p), build)

"""The benchmark's workloads. Each one prepares its seeded inputs and
correctness references once per run (untimed), then runs iterations: a
timed section that drives the engine's public API, followed by an
untimed check of every output it produced."""

from __future__ import annotations

import json
import os
import pickle
import random
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from . import counters as C
from . import inputs
from .stats import canon_rows, ratio


@dataclass
class IterResult:
    seconds: float
    written_bytes: int = 0
    ok: bool = True
    why: str = ""
    counts: dict = field(default_factory=dict)   # output counts, step seconds


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Workload:
    name = ""
    # job groups whose plans belong to each layer, and the job groups that
    # run a checkpointed stage
    layer_groups: dict[str, list[str]] = {}
    checkpoint_groups: tuple[str, ...] = ()

    def __init__(self, root: str, seed: int):
        self.root = root
        self.seed = seed
        self.work = os.path.join(root, ".perfbench", "work", self.name)

    def prepare(self, spark) -> None:
        raise NotImplementedError

    def iteration(self, spark, it: int, rec: C.Recorder,
                  resume: bool = False) -> IterResult:
        raise NotImplementedError

    # -- per-layer counters (untraced run, read after the iteration) ------
    def nodes(self, rec: C.Recorder, layer: str) -> list:
        out = []
        for g in self.layer_groups.get(layer, []):
            if g in rec.groups:
                out.extend(rec.groups[g].nodes())
        return out

    def layer_counters(self, rec: C.Recorder, res: IterResult) -> dict:
        rec.walk()
        all_nodes = [n for g in rec.groups.values() for n in g.nodes()]
        vis = C.render_counters(self.nodes(rec, "visibility"))
        vis_skew, vis_med = rec.task_skew(self.layer_groups.get("visibility", []))
        sj = C.refine_counters(self.nodes(rec, "spatial_join"))
        tiles_skew, tiles_med = rec.task_skew(self.layer_groups.get("tiles", []))
        py = C.python_counters(all_nodes)
        ex = C.exchange_counters(all_nodes)
        groups = list(rec.groups)
        ckpt_groups = [g for g in groups if g in self.checkpoint_groups]
        out = {
            "docs.spans": C.generate_rows(self.nodes(rec, "docs.spans")),
            "docs.faces_out": res.counts.get("faces_out", 0),
            "visibility.candidates": vis["candidates"],
            "visibility.visible_rows": vis["visible_rows"],
            "visibility.visible_per_candidate": ratio(vis["visible_rows"], vis["candidates"]),
            "visibility.render_passes": vis["passes"],
            "visibility.python_rows_in": vis["rows_in"],
            "visibility.python_init_ms": vis["init_ms"],
            "visibility.python_run_ms": vis["run_ms"],
            "visibility.task_skew": vis_skew,
            "visibility.task_median_ms": vis_med,
            "spatial_join.candidates": sj["candidates"],
            "spatial_join.matches": sj["matches"],
            "spatial_join.match_per_candidate": ratio(sj["matches"], sj["candidates"]),
            "spatial_join.python_nodes": sj["python_nodes"],
            "pipelines.exchanges": C.exchange_counters(
                self.nodes(rec, "pipelines"))["exchanges"],
            "tiles.tiles_out": res.counts.get("tiles_out", 0),
            "tiles.task_skew": tiles_skew,
            "tiles.task_median_ms": tiles_med,
            "raytri.edges": res.counts.get("edges", 0),
            "raytri.components": res.counts.get("components", 0),
            "checkpoints.jobs": sum(len(rec.jobs(g)) for g in ckpt_groups),
            "checkpoints.written_mb": res.counts.get("checkpoint_bytes", 0) / 1e6,
            "sinks.written_mb": res.counts.get("sink_bytes", 0) / 1e6,
            "spark.jobs": sum(len(rec.jobs(g)) for g in groups),
            "spark.stages": sum(len(rec.stages(g)) for g in groups),
            "spark.tasks": sum(rec.tasks(g) for g in groups),
            "spark.shuffle_mb": ex["shuffle_bytes"] / 1e6,
            "spark.exchanges": ex["exchanges"],
            "spark.python_nodes": py["nodes"],
            "spark.python_boot_ms": py["boot_ms"],
            "spark.python_init_ms": py["init_ms"],
        }
        out.update(self.extra_counters(rec))
        return out

    def extra_counters(self, rec: C.Recorder) -> dict:
        return {}


# ---------------------------------------------------------------------------
# survey_forward
# ---------------------------------------------------------------------------

class SurveyForward(Workload):
    """Documents → typed tables → forward_pipeline → label_polygons →
    rasterize_face_labels → raster-tile sink → multiview detections, every
    stage through a CheckpointManager into a fresh root."""

    name = "survey_forward"
    layer_groups = {
        "docs.spans": ["docs.cameras"],
        "visibility": ["forward"],
        "pipelines": ["forward"],
        "spatial_join": ["label_polygons"],
        "tiles": ["tiles"],
    }
    checkpoint_groups = ("docs.cameras", "docs.faces", "docs.polygons",
                         "forward", "label_polygons", "tiles", "detections")

    def prepare(self, spark) -> None:
        from geograypher_spark.operators.tiles import TileGrid

        self.dir = inputs.forward_inputs(spark, self.root, self.seed)
        with open(os.path.join(self.dir, "meta.json")) as fh:
            self.meta = json.load(fh)
        p = inputs.FORWARD
        self.grid = TileGrid(0.0, p["size"], 0.02, 128)
        self.bounds = (0.0, 0.0, p["size"], p["size"])
        faces = pd.read_parquet(os.path.join(self.dir, "faces.parquet"),
                                columns=["face_id", "class_id"])
        self.truth = faces.dropna().rename(columns={"class_id": "truth"})
        cams = pd.read_parquet(os.path.join(self.dir, "cameras.parquet"))
        self.n_cameras = len(cams)
        self.frame_px = int((cams["w"] * cams["h"]).max())
        self.survey_px = int((cams["w"] * cams["h"]).sum())
        polys = pd.read_parquet(os.path.join(self.dir, "polygons.parquet"))
        self.poly_class = dict(zip(polys["polygon_id"], polys["class_id"]))
        self.targets = np.load(os.path.join(self.dir, "targets.npy"))
        det = pd.read_parquet(os.path.join(self.dir, "detections.parquet"))
        self.n_detections = len(det)

    def _stages(self, spark, ckpt: str, rec: C.Recorder):
        from pyspark.sql import functions as F

        from geograypher_spark.operators import tiles as TL
        from geograypher_spark.operators.visibility import FACE_COORD_COLS
        from geograypher_spark.plans import pipelines as P
        from geograypher_spark.plans.checkpoints import CheckpointManager
        from geograypher_spark.sources import docs as D

        d = self.dir
        mgr = CheckpointManager(spark, ckpt)
        docs = spark.read.parquet(os.path.join(d, "documents"))
        payloads = spark.read.parquet(os.path.join(d, "media_payloads"))
        spans = D.explode_spans(docs)
        with rec.group("docs.cameras"):
            cams, k_c = mgr.run("cameras", {}, [],
                                lambda: D.parse_cameras(spans, payloads))
        with rec.group("docs.faces"):
            faces, k_f = mgr.run("faces", {}, [],
                                 lambda: D.parse_faces(spans, payloads))
        with rec.group("docs.polygons"):
            polys, k_p = mgr.run("polygons", {}, [],
                                 lambda: D.parse_polygons(spans, payloads))
        with rec.group("forward"):
            pred, k_pred = mgr.run(
                "face_pred", {}, [k_c, k_f],
                lambda: P.forward_pipeline(
                    spark, cams, faces, None,
                    faces.select("face_id", "class_id")))
        labelled = faces.drop("class_id").join(
            pred.select("face_id", F.col("pred_class").alias("class_id")),
            "face_id")
        with rec.group("label_polygons"):
            plabels, _ = mgr.run(
                "polygon_labels", {}, [k_f, k_pred, k_p],
                lambda: P.label_polygons(labelled, polys))
        with rec.group("tiles"):
            tiles, _ = mgr.run(
                "tiles", {"gsd": self.grid.gsd, "px": self.grid.tile_px},
                [k_f, k_pred],
                lambda: TL.rasterize_face_labels(
                    labelled.select("face_id", *FACE_COORD_COLS, "class_id"),
                    self.grid, emit_images=True, bounds=self.bounds))
        with rec.group("detections"):
            det = spark.read.parquet(os.path.join(d, "detections.parquet"))
            tri, _ = mgr.run(
                "triangulated", {}, [k_c],
                lambda: P.multiview_detections_pipeline(
                    spark, cams, det, ray_length=self.meta["ray_length"],
                    tau=self.meta["tau"], checkpoint_root=ckpt))
        return mgr, pred, plabels, tiles, tri

    def iteration(self, spark, it, rec, resume=False) -> IterResult:
        from geograypher_spark.sources.sinks import write_raster_tiles

        base = fresh_dir(os.path.join(self.work, f"it{it}"))
        ckpt = os.path.join(base, "checkpoints")
        sink = os.path.join(base, "tiles")
        t0 = time.perf_counter()
        mgr, pred, plabels, tiles, tri = self._stages(spark, ckpt, rec)
        with rec.group("tile_sink"):
            write_raster_tiles(tiles, sink, self.grid)
        res = IterResult(time.perf_counter() - t0)
        res.counts["checkpoint_bytes"] = dir_bytes(ckpt)
        res.counts["sink_bytes"] = dir_bytes(sink)
        res.written_bytes = dir_bytes(base)
        res.ok, res.why = self.check(pred, plabels, tiles, tri, sink)
        lineage = _lineage(ckpt)
        res.counts["faces_out"] = lineage["faces"]["row_count"]
        res.counts["edges"] = lineage["edge_weights"]["row_count"]
        res.counts["components"] = lineage["communities"]["row_count"]
        res.counts["tiles_out"] = lineage["tiles"]["row_count"]
        if resume and res.ok:
            # re-run against the filled root: every stage must be skipped
            t1 = time.perf_counter()
            again = self._stages(spark, ckpt, C.Recorder(spark))[0]
            res.counts["resume_s"] = time.perf_counter() - t1
            ran = [r.path for r in again.records if not r.skipped]
            if ran or len(again.records) != len(mgr.records):
                res.ok, res.why = False, f"resume re-ran {ran}"
        shutil.rmtree(base, ignore_errors=True)
        return res

    def check(self, pred, plabels, tiles, tri, sink) -> tuple[bool, str]:
        p = pred.toPandas().merge(self.truth, on="face_id", how="left")
        if p["truth"].isna().any():
            return False, "a face without a truth class was predicted"
        if not (p["pred_class"] == p["truth"]).all():
            return False, "pred_class differs from the LookUp truth class"
        if not (p["n_cameras"].between(1, self.n_cameras).all()
                and (p["total_weight"] <= p["n_cameras"] * self.frame_px).all()
                and p["total_weight"].sum() <= self.survey_px):
            return False, "face pixel totals exceed the cameras' frames"
        pl = plabels.toPandas()
        got = dict(zip(pl["polygon_id"], pl["pred_class"]))
        if got != self.poly_class:
            return False, "object polygon labels differ from object classes"
        tl = tiles.toPandas()
        files = [f for f in os.listdir(sink) if f.endswith(".npy")]
        if len(files) != len(tl):
            return False, f"{len(files)} tile files for {len(tl)} tiles"
        for f in files:
            vals = np.unique(np.load(os.path.join(sink, f)))
            if not set(vals.tolist()) <= {0, 1, 2, 255}:
                return False, f"tile {f} holds unknown classes"
        tr = tri.toPandas()
        if len(tr) != len(self.targets) or tr["n_rays"].sum() != self.n_detections:
            return False, (f"{len(tr)} triangulated points for "
                           f"{len(self.targets)} targets")
        pts = tr[["px", "py", "pz"]].to_numpy()
        d = np.linalg.norm(pts[:, None, :] - self.targets[None, :, :], axis=2)
        if d.min(axis=1).max() > 1e-6 or len(set(d.argmin(axis=1))) != len(tr):
            return False, "triangulated points miss their targets"
        return True, ""


def _lineage(ckpt: str) -> dict:
    out = {}
    for stage in os.listdir(ckpt):
        for key in os.listdir(os.path.join(ckpt, stage)):
            f = os.path.join(ckpt, stage, key, "lineage.json")
            if os.path.exists(f):
                with open(f) as fh:
                    out[stage] = json.load(fh)
    return out


# ---------------------------------------------------------------------------
# survey_reverse
# ---------------------------------------------------------------------------

def even_odd(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd point-in-ring test, one edge at a time, with the half-open
    rule (an edge counts when exactly one endpoint has y <= py)."""
    ring = np.asarray(ring, dtype=np.float64)
    if not np.array_equal(ring[0], ring[-1]):
        ring = np.vstack([ring, ring[:1]])
    inside = np.zeros(len(px), dtype=bool)
    for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
        if y0 == y1:
            continue
        crosses = (y0 <= py) != (y1 <= py)
        xint = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
        inside ^= crosses & (px < xint)
    return inside


def reference_face_classes(verts: pd.DataFrame, faces: pd.DataFrame,
                           polys: pd.DataFrame) -> pd.Series:
    """Vertex labels by even-odd test → per-face majority vote (ties to
    the lowest class); faces with no labelled vertex get -1."""
    from geograypher_spark.functions.geometry import wkb_to_rings

    x, y = verts["x"].to_numpy(), verts["y"].to_numpy()
    lab = np.full(len(verts), -1, dtype=np.int64)
    for wkb, cls in zip(polys["geometry_wkb"], polys["class_id"]):
        for rings in wkb_to_rings(bytes(wkb)):
            ext = rings[0]
            m = ((x >= ext[:, 0].min()) & (x <= ext[:, 0].max())
                 & (y >= ext[:, 1].min()) & (y <= ext[:, 1].max()))
            idx = np.nonzero(m)[0]
            inside = even_odd(x[idx], y[idx], ext)
            for hole in rings[1:]:
                inside &= ~even_odd(x[idx], y[idx], hole)
            lab[idx[inside]] = cls
    pos = pd.Series(np.arange(len(verts)), index=verts["vert_id"].to_numpy())
    vl = np.stack([lab[pos[faces[c]].to_numpy()] for c in ("v0", "v1", "v2")],
                  axis=1)
    votes = np.stack([(vl == c).sum(axis=1) for c in range(3)], axis=1)
    best = votes.argmax(axis=1)
    best[votes.max(axis=1) == 0] = -1
    return pd.Series(best, index=faces["face_id"].to_numpy())


class SurveyReverse(Workload):
    """render_labels_pipeline over a dense survey: vertex PIP (Arrow
    kernel path) → per-face mode vote → per-camera label renders → chip
    sink."""

    name = "survey_reverse"
    layer_groups = {"visibility": ["render_labels"],
                    "pipelines": ["render_labels"],
                    "spatial_join": ["render_labels"]}

    def prepare(self, spark) -> None:
        self.dir = inputs.reverse_inputs(self.root, self.seed)
        ref_dir = inputs.cached(os.path.join(self.dir, "ref"), self._reference)
        ref = pd.read_parquet(os.path.join(ref_dir, "histogram.parquet"))
        self.ref = {(int(c), int(k)): int(n) for c, k, n in
                    ref[["camera_id", "class_id", "pixels"]].itertuples(index=False)}
        cams = pd.read_parquet(os.path.join(self.dir, "cameras.parquet"))
        self.size = {int(c): int(w) * int(h)
                     for c, w, h in cams[["camera_id", "w", "h"]].itertuples(index=False)}

    def _reference(self, out: str) -> None:
        """Expected label-image class histograms: numpy vertex labels →
        face classes → the engine's z-buffer kernel, run in this process over
        every labelled face, one camera at a time."""
        from geograypher_spark.functions import camera as cam_fn
        from geograypher_spark.operators.visibility import (FACE_COORD_COLS,
                                                            rasterize_zbuffer)

        d = self.dir
        verts = pd.read_parquet(os.path.join(d, "verts.parquet"))
        faces = pd.read_parquet(os.path.join(d, "faces.parquet"))
        polys = pd.read_parquet(os.path.join(d, "polygons.parquet"))
        fc = reference_face_classes(verts, faces, polys)
        lab = faces.assign(face_class=fc.loc[faces["face_id"]].to_numpy())
        lab = lab[lab["face_class"] >= 0].sort_values("face_id")
        n = len(lab)
        pts = lab[FACE_COORD_COLS].to_numpy(np.float64).reshape(n * 3, 3)
        ids = lab["face_id"].to_numpy(np.int64)
        cls = pd.Series(lab["face_class"].to_numpy(), index=ids)
        rows = []
        cams = pd.read_parquet(os.path.join(d, "cameras.parquet"))
        for c in cams.itertuples(index=False):
            c2w = np.asarray(c.cam_to_world, dtype=np.float64).reshape(4, 4)
            px, py, z = cam_fn.project_points(pts, c2w, c.f, c.cx, c.cy, c.w, c.h)
            img = rasterize_zbuffer(np.stack([px, py], axis=1).reshape(n, 3, 2),
                                    z.reshape(n, 3), ids, int(c.w), int(c.h))
            hit = img[img >= 0]
            vals, counts = np.unique(cls.loc[hit].to_numpy(), return_counts=True)
            rows += [(int(c.camera_id), int(v), int(k)) for v, k in zip(vals, counts)]
        pd.DataFrame(rows, columns=["camera_id", "class_id", "pixels"]).to_parquet(
            os.path.join(out, "histogram.parquet"))

    def iteration(self, spark, it, rec, resume=False) -> IterResult:
        from geograypher_spark.plans.pipelines import render_labels_pipeline
        from geograypher_spark.sources.sinks import write_image_chips

        d = self.dir
        sink = fresh_dir(os.path.join(self.work, f"it{it}"))
        t0 = time.perf_counter()
        with rec.group("render_labels"):
            imgs = render_labels_pipeline(
                spark,
                spark.read.parquet(os.path.join(d, "cameras.parquet")),
                spark.read.parquet(os.path.join(d, "faces.parquet")).drop("class_id"),
                spark.read.parquet(os.path.join(d, "verts.parquet")),
                spark.read.parquet(os.path.join(d, "polygons.parquet")))
            write_image_chips(imgs, sink, key_cols=("camera_id",),
                              data_col="label_image")
        res = IterResult(time.perf_counter() - t0)
        # the render's executed plan (foreachPartition runs the DataFrame's
        # own QueryExecution, which no SQL listener event reports)
        if rec.capture is not None:
            rec.groups["render_labels"].plans.append(
                imgs._jdf.queryExecution().executedPlan())
        res.written_bytes = res.counts["sink_bytes"] = dir_bytes(sink)
        res.ok, res.why = self.check(sink)
        shutil.rmtree(sink, ignore_errors=True)
        return res

    def check(self, sink: str) -> tuple[bool, str]:
        got = {}
        files = os.listdir(sink)
        if len(files) != len(self.size):
            return False, f"{len(files)} label images for {len(self.size)} cameras"
        for f in files:
            cam = int(f[len("chip_"):-len(".bin")])
            with open(os.path.join(sink, f), "rb") as fh:
                img = np.frombuffer(fh.read(), dtype=np.uint8)
            if len(img) != self.size[cam]:
                return False, f"camera {cam}: image of {len(img)} pixels"
            vals, counts = np.unique(img[img != 255], return_counts=True)
            for v, n in zip(vals, counts):
                got[(cam, int(v))] = int(n)
        if got != self.ref:
            bad = sorted(set(got.items()) ^ set(self.ref.items()))[:3]
            return False, f"label histograms differ from the reference: {bad}"
        return True, ""


# ---------------------------------------------------------------------------
# doc_queries
# ---------------------------------------------------------------------------

ORACLE_TABLES = ["lineitem", "supplier", "customer", "documents", "embeddings"]


class DocQueries(Workload):
    """One pass over the frozen headline queries, in a seed-shuffled order,
    with cold caches before every execution; every result is compared
    with the DuckDB oracle of the query contract."""

    name = "doc_queries"
    layer_groups = {
        "visibility": ["q.visibility_zbuffer", "q.forward_pipeline",
                       "q.render_labels"],
        "pipelines": ["q.forward_pipeline", "q.render_labels"],
        "spatial_join": ["q.points_in_polygons", "q.label_polygons"],
    }

    def prepare(self, spark) -> None:
        from bench import HEADLINE

        self.names = list(HEADLINE)
        self.dir = inputs.doc_tables(self.root, self.seed)
        odir = inputs.cached(os.path.join(self.dir, "oracles"), self._oracles)
        with open(os.path.join(odir, "oracles.pkl"), "rb") as fh:
            self.oracles = pickle.load(fh)

    def _oracles(self, out: str) -> None:
        import duckdb

        from geograypher_spark.plans import driver_queries as DQ

        con = duckdb.connect()
        for t in ORACLE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{os.path.join(self.dir, t + '.parquet')}')")
        res = {n: canon_rows(con.execute(DQ.ORACLES[n]).fetchall())
               for n in self.names}
        con.close()
        with open(os.path.join(out, "oracles.pkl"), "wb") as fh:
            pickle.dump(res, fh)

    def iteration(self, spark, it, rec, resume=False) -> IterResult:
        from geograypher_spark.operators.dedup import unpersist_dedup_caches
        from geograypher_spark.plans import driver_queries as DQ

        order = list(self.names)
        random.Random(self.seed * 100_003 + it).shuffle(order)
        res = IterResult(0.0)
        for name in order:
            unpersist_dedup_caches()
            spark.catalog.clearCache()
            with rec.group(f"q.{name}"):
                t0 = time.perf_counter()
                DQ.QUERIES[name](spark, self.dir).write.format("noop").mode(
                    "overwrite").save()
                dt = time.perf_counter() - t0
            res.seconds += dt
            res.counts[f"query.{name}.s"] = dt
        for name in order:
            unpersist_dedup_caches()
            spark.catalog.clearCache()
            rows = DQ.QUERIES[name](spark, self.dir).collect()
            if canon_rows(rows) != self.oracles[name]:
                res.ok, res.why = False, f"{name} differs from its oracle"
                break
        return res

    def extra_counters(self, rec: C.Recorder) -> dict:
        out = {}
        for name in self.names:
            g = rec.groups.get(f"q.{name}")
            nodes = list(g.nodes()) if g else []
            out[f"query.{name}.stages"] = len(rec.stages(f"q.{name}"))
            out[f"query.{name}.python_init_ms"] = C.python_counters(nodes)["init_ms"]
            out[f"query.{name}.shuffle_mb"] = C.exchange_counters(nodes)["shuffle_bytes"] / 1e6
        return out


WORKLOADS = {w.name: w for w in (SurveyForward, SurveyReverse, DocQueries)}

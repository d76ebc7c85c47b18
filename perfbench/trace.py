"""Layer spans timed from outside the engine, and the process-tree RSS
sampler.

A traced run wraps the public functions of each layer's module. Spark is
lazy, so a span ends only after the function's DataFrame output is fully
materialised (every column, via ``localCheckpoint(eager=True)``); the
checkpoint also cuts the lineage, so the next span times only its own
layer. A span's self time is its duration minus the part covered by its
children.
"""

from __future__ import annotations

import functools
import importlib
import os
import threading
import time
from dataclasses import dataclass

# (module, attribute) of every traced entry point, by layer
TRACED = {
    "docs": ("geograypher_spark.sources.docs",
             ["explode_spans", "parse_cameras", "parse_faces",
              "parse_polygons"]),
    "visibility": ("geograypher_spark.operators.visibility",
                   ["candidate_camera_faces", "visibility_join",
                    "render_label_images"]),
    "spatial_join": ("geograypher_spark.operators.spatial_join",
                     ["points_in_polygons", "triangles_polygon_overlap"]),
    "aggregates": ("geograypher_spark.operators.aggregates",
                   ["mode_vote", "weighted_argmax"]),
    "pipelines": ("geograypher_spark.plans.pipelines",
                  ["aggregate_images", "label_polygons", "forward_pipeline",
                   "render_labels_pipeline", "multiview_detections_pipeline"]),
    "tiles": ("geograypher_spark.operators.tiles", ["rasterize_face_labels"]),
    "raytri": ("geograypher_spark.operators.raytri",
               ["ray_proximity_edges", "connected_components",
                "triangulate_components"]),
    "sinks": ("geograypher_spark.sources.sinks",
              ["write_raster_tiles", "write_image_chips"]),
    "checkpoints": ("geograypher_spark.plans.checkpoints",
                    ["CheckpointManager.run"]),
}


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    iteration: int

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Duration of each span minus the union of its children's intervals
    (children are clipped to the parent, overlaps counted once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cur_a, cur_b = 0.0, None, None
        for c in sorted(kids.get(i, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out.append(s.duration - covered)
    return out


def summed_self_times(spans: list[Span], key: str = "layer") -> dict[str, float]:
    """Self times summed per span ``layer`` (or per ``name``)."""
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        k = getattr(s, key)
        out[k] = out.get(k, 0.0) + t
    return out


def materialize(result):
    """Fully compute a layer's DataFrame output and cut its lineage."""
    from pyspark.sql import DataFrame

    if isinstance(result, DataFrame):
        return result.localCheckpoint(eager=True)
    if isinstance(result, tuple) and result and isinstance(result[0], DataFrame):
        return (materialize(result[0]),) + result[1:]
    return result


class Tracer:
    """Patches the TRACED entry points for the lifetime of a ``with``
    block; spans stay in memory until ``to_json``."""

    def __init__(self, targets: dict = TRACED):
        self.targets = targets
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.iteration = -1
        self._undo: list = []

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = len(tracer.spans)
            parent = tracer.stack[-1] if tracer.stack else None
            span = Span(name, layer, time.perf_counter(), 0.0, parent,
                        tracer.iteration)
            tracer.spans.append(span)
            tracer.stack.append(idx)
            try:
                return materialize(fn(*args, **kwargs))
            finally:
                span.end = time.perf_counter()
                tracer.stack.pop()
        return traced

    def __enter__(self):
        for layer, (mod_name, attrs) in self.targets.items():
            mod = importlib.import_module(mod_name)
            for attr in attrs:
                owner, _, leaf = attr.rpartition(".")
                target = getattr(mod, owner) if owner else mod
                orig = getattr(target, leaf)
                setattr(target, leaf, self._wrap(layer, attr, orig))
                self._undo.append((target, leaf, orig))
        return self

    def __exit__(self, *exc):
        for target, leaf, orig in reversed(self._undo):
            setattr(target, leaf, orig)
        self._undo.clear()
        return False

    def iteration_spans(self, it: int) -> list[Span]:
        return [s for s in self.spans if s.iteration == it]

    def to_json(self) -> list[dict]:
        return [{"name": s.name, "layer": s.layer, "start": s.start,
                 "end": s.end, "parent": s.parent, "iteration": s.iteration,
                 "self_s": t}
                for s, t in zip(self.spans, self_times(self.spans))]


# ---------------------------------------------------------------------------
# Peak RSS of the process tree, from /proc
# ---------------------------------------------------------------------------

def _process_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) of every process in /proc."""
    out: dict[int, tuple[int, str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        head, tail = stat.rsplit(")", 1)
        out[int(d)] = (int(tail.split()[1]), head.split("(", 1)[1])
    return out


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_pids(table: dict[int, tuple[int, str]], root_pid: int,
              exe=_exe) -> list[int]:
    """``root_pid`` and its descendants, less the children a JVM is still
    spawning. The JVM starts a program (Hadoop's ``chmod``, the Python
    daemon) with posix_spawn; until the child execs, it shares the JVM's
    address space, so its pid shows the JVM's RSS a second time. A JVM never
    forks a copy of itself, so a child still running the JVM's executable is
    such a spawn."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        children = kids.get(pid, [])
        if children and table.get(pid, (0, ""))[1] == "java":
            jvm = exe(pid)
            children = [k for k in children if exe(k) != jvm]
        todo.extend(children)
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Anonymous resident bytes of ``root_pid`` and its descendants: RSS
    less the file-backed pages (jars, shared libraries), which the kernel
    drops and re-reads as the host's page cache comes and goes."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in tree_pids(_process_table(), root_pid):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                resident, shared = fh.read().split()[1:3]
            total += (int(resident) - int(shared)) * page
        except OSError:
            pass
    return total


class RssSampler(threading.Thread):
    """Samples the anonymous RSS of this process and all its descendants
    (Spark driver, JVM, Python workers) every ``interval`` seconds; ``peak``
    is the largest sum seen since the last ``reset``."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()

    def reset(self) -> None:
        self.peak = tree_rss_bytes(os.getpid())

    def run(self) -> None:
        pid = os.getpid()
        while not self._stop_evt.wait(self.interval):
            self.peak = max(self.peak, tree_rss_bytes(pid))

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()

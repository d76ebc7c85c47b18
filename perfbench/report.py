"""Turn a run's measurements into the result line, a human summary and
the per-run files under ``.perfbench/runs/``."""

from __future__ import annotations

import json
import os
import statistics

from .stats import summarize
from .trace import summed_self_times

END_TO_END = [("setup_s", "s"), ("peak_rss_mb", "MB"), ("written_mb", "MB")]

# Per-layer metrics reported on every workload. Self times (``_s``) come
# from the traced iterations of a --trace 1 run and are listed only for
# layers that every workload exercises; everything else is an exact count
# or a Spark counter from the untraced iterations.
PER_LAYER = [
    ("session.start_s", "s"), ("session.warmup_s", "s"),
    ("iter_s", "s"), ("iter_s.q1", "s"), ("iter_s.q3", "s"),
    ("iterations", "count"), ("failed_frac", "ratio"),
    ("trace.untraced_iter_s", "s"), ("trace.traced_iter_s", "s"),
    ("trace.overhead_s", "s"),
    ("visibility.self_s", "s"), ("spatial_join.self_s", "s"),
    ("aggregates.self_s", "s"), ("pipelines.self_s", "s"),
    ("sinks.self_s", "s"),
    ("docs.spans", "count"), ("docs.faces_out", "count"),
    ("visibility.candidates", "count"), ("visibility.visible_rows", "count"),
    ("visibility.visible_per_candidate", "ratio"),
    ("visibility.render_passes", "count"),
    ("visibility.python_rows_in", "count"),
    ("visibility.python_init_ms", "ms"), ("visibility.python_run_ms", "ms"),
    ("visibility.task_skew", "ratio"), ("visibility.task_median_ms", "ms"),
    ("spatial_join.candidates", "count"), ("spatial_join.matches", "count"),
    ("spatial_join.match_per_candidate", "ratio"),
    ("spatial_join.python_nodes", "count"),
    ("pipelines.exchanges", "count"),
    ("tiles.tiles_out", "count"), ("tiles.task_skew", "ratio"),
    ("tiles.task_median_ms", "ms"),
    ("raytri.edges", "count"), ("raytri.components", "count"),
    ("checkpoints.jobs", "count"), ("checkpoints.written_mb", "MB"),
    ("sinks.written_mb", "MB"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.shuffle_mb", "MB"),
    ("spark.exchanges", "count"), ("spark.python_nodes", "count"),
    ("spark.python_boot_ms", "ms"), ("spark.python_init_ms", "ms"),
]

# every ratio is reported next to the metric it is a share of
RATIO_BASES = {
    "visibility.visible_per_candidate": "visibility.candidates",
    "visibility.task_skew": "visibility.task_median_ms",
    "spatial_join.match_per_candidate": "spatial_join.candidates",
    "tiles.task_skew": "tiles.task_median_ms",
    "failed_frac": "iterations",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _medians(dicts: list[dict]) -> dict:
    """Per key, the median over the dicts (a missing key counts as 0)."""
    keys = sorted({k for d in dicts for k in d})
    return {k: _median([d.get(k, 0.0) for d in dicts]) for k in keys}


def build(workload, args, setups, runs, traced, baseline, tracer,
          peak_rss) -> dict:
    results = [r for r, _ in runs]
    extra_runs = [r for r, _ in traced + baseline]
    failed = sum(not r.ok for r in results + extra_runs)
    attempted = len(results) + len(extra_runs)
    times = [r.seconds for r in results if r.ok] or [r.seconds for r in results]
    it = summarize(times)
    setup_total = [a + b for a, b in setups]
    written = _median([r.written_bytes for r in results]) / 1e6
    e2e = {
        "setup_s": _median(setup_total),
        "peak_rss_mb": peak_rss / 1e6,
        "written_mb": written,
    }
    layers = {
        "session.start_s": _median([a for a, _ in setups]),
        "session.warmup_s": _median([b for _, b in setups]),
        "iter_s": it["median"], "iter_s.q1": it["q1"], "iter_s.q3": it["q3"],
        "iterations": it["n"],
        "failed_frac": failed / attempted,
    }
    extra = {}
    if traced:
        base = _median([r.seconds for r, _ in baseline])
        tt = _median([r.seconds for r, _ in traced])
        layers["trace.untraced_iter_s"] = base
        layers["trace.traced_iter_s"] = tt
        layers["trace.overhead_s"] = tt - base
        its = sorted({s.iteration for s in tracer.spans})
        spans = [tracer.iteration_spans(i) for i in its]
        layers.update({f"{k}.self_s": v for k, v in _medians(
            [summed_self_times(s) for s in spans]).items()})
        extra.update({f"span.{k}.self_s": v for k, v in _medians(
            [summed_self_times(s, "name") for s in spans]).items()})
        layers.update(_medians([c for _, c in runs if c]))
        extra.update(_medians([{k: v for k, v in r.counts.items()
                                if k.endswith("_s")} for r in results]))
    if args.trace:
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}
    summary = [
        f"{workload} seed={args.seed} trace={args.trace} cpus={os.cpu_count()}",
        f"  setup_s {e2e['setup_s']:.3f} s (median of {len(setups)} set-ups: "
        + ", ".join(f"{t:.3f}" for t in setup_total) + ")",
        f"  iter_s median {it['median']:.3f} s, q1 {it['q1']:.3f}, "
        f"q3 {it['q3']:.3f}, n={it['n']}, "
        + (f"p{it['p_tail']} {it['p_tail_value']:.3f} s"
           if it["p_tail"] is not None else
           "no percentile has >= 10 samples beyond it"),
        f"  peak_rss_mb {e2e['peak_rss_mb']:.1f} MB, written_mb {written:.3f} MB"
        f" per iteration, failed_frac {failed}/{attempted}",
    ]
    return {
        "json": {"correct": failed == 0, "attempted": attempted,
                 "failed": failed, "metrics": metrics},
        "summary": summary,
        "end_to_end": e2e,
        "layers": layers,
        "extra": extra,
        "iterations": [{"seconds": r.seconds, "ok": r.ok, "why": r.why,
                        "written_bytes": r.written_bytes,
                        "counts": r.counts} for r in results],
        "traced_iterations": [{"seconds": r.seconds, "ok": r.ok}
                              for r, _ in traced],
        "baseline_iterations": [{"seconds": r.seconds, "ok": r.ok}
                                for r, _ in baseline],
    }


def write_files(root, workload, args, result, tracer) -> None:
    out = os.path.join(root, ".perfbench", "runs",
                       f"{workload}-s{args.seed}-t{args.trace}")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "result.json"), "w") as fh:
        json.dump({k: v for k, v in result.items() if k != "summary"}, fh,
                  indent=1, sort_keys=True, default=str)
    if tracer is not None:
        with open(os.path.join(out, "spans.json"), "w") as fh:
            json.dump(tracer.to_json(), fh)

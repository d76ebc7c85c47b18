#!/usr/bin/env python3
"""Survey-scale benchmark of geograypher_spark.

    python3 perfbench/run.py --workload survey_forward --seed 1 \
        --seconds 1 --trace 0

Runs one workload on local[nproc] in this single Spark driver process:
sets up the Spark session twice (the first launches the JVM) with the
seeded inputs prepared in between, then runs iterations for
``--seconds`` seconds (at least one), checking every iteration's
outputs. The last stdout line is one JSON object: ``{"correct",
"attempted", "failed", "metrics"}``; with ``--trace 0`` the metrics are
the end-to-end ones, with ``--trace 1`` the per-layer ones (a third of
the time untraced with Spark counters, a third traced with layer spans,
a third untraced as the tracing baseline). Spans and every per-layer
number are also written to ``.perfbench/runs/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_SETUPS = 2


def _environment() -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the engine from it."""
    tmp = os.path.join(ROOT, ".perfbench", "tmp")
    local = os.path.join(ROOT, ".perfbench", "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    parts = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if ROOT not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + parts)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = tmp


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def setup_session(cpus: int):
    """get_spark through the warm-up action; returns (spark, start_s,
    warmup_s)."""
    import pandas as pd

    from geograypher_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    t0 = time.perf_counter()
    # a 1 GB driver heap, committed and touched when the JVM starts: the
    # heap's share of peak RSS is then the same in every run, not the size
    # the garbage collector happened to grow it to
    spark = get_spark(
        "perfbench", master=f"local[{cpus}]",
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions":
                f"-Xms1g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        })
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    # boot a Python worker on every core and compile the common operators
    spark.range(100_000).repartition(cpus).mapInPandas(
        lambda it: (pd.DataFrame({"n": [len(p)]}) for p in it), "n long"
    ).count()
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def stop_jvm() -> None:
    """Stop the gateway JVM and wait for it to exit (it exits when its
    stdin closes); the Python workers already ended with the session."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def measure(wl, spark, rec, seconds: float, first: int = 0,
            resume: bool = False, tracer=None, counters: bool = False) -> list:
    """Iterations numbered from ``first`` until ``seconds`` have passed
    (at least one). Returns [(IterResult, counters-dict or None)]."""
    from perfbench.workloads import IterResult

    out = []
    deadline = time.perf_counter() + seconds
    it = first
    while True:
        rec.start_iteration(f"it{it}")
        if tracer is not None:
            tracer.iteration = it
        try:
            res = wl.iteration(spark, it, rec, resume=resume)
        except Exception as e:   # noqa: BLE001 (a failed iteration is data)
            traceback.print_exc()
            res = IterResult(0.0, ok=False, why=f"{type(e).__name__}: {e}")
        layer = wl.layer_counters(rec, res) if counters and res.ok else None
        if not res.ok:
            _log(f"iteration {it} FAILED: {res.why}")
        out.append((res, layer))
        it += 1
        if time.perf_counter() >= deadline:
            return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _environment()
    import geograypher_spark  # noqa: F401 (fails fast outside a checkout)

    from perfbench import report
    from perfbench.counters import QueryCapture, Recorder
    from perfbench.trace import RssSampler, Tracer
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](ROOT, args.seed)
    cpus = len(os.sched_getaffinity(0))

    # inputs are prepared after the first set-up (generation may need a
    # session); the later set-ups start the session again, so the measured
    # iterations run in a session and workers that prepared nothing
    setups = []
    for k in range(N_SETUPS):
        if k == 1:
            t0 = time.perf_counter()
            wl.prepare(spark)
            _log(f"{wl.name}: inputs and references ready in "
                 f"{time.perf_counter() - t0:.1f} s (not gated)")
        if k:
            spark.stop()
        spark, start_s, warm_s = setup_session(cpus)
        setups.append((start_s, warm_s))

    # start the memory peak from the live set, not from garbage the set-ups
    # and input preparation left behind
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    sampler = RssSampler()
    sampler.reset()
    sampler.start()
    try:
        if args.trace == 0:
            runs = measure(wl, spark, Recorder(spark), args.seconds)
            traced, baseline, tracer = [], [], None
        else:
            # a third each: untraced with Spark counters (and the resume
            # check), traced, and untraced again as the overhead baseline
            part = args.seconds / 3
            runs = measure(wl, spark, Recorder(spark, QueryCapture(spark)),
                           part, resume=True, counters=True)
            with Tracer() as tracer:
                traced = measure(wl, spark, Recorder(spark), part,
                                 first=len(runs), tracer=tracer)
            baseline = measure(wl, spark, Recorder(spark), part,
                               first=len(runs) + len(traced))
    finally:
        sampler.stop()
        spark.stop()
        stop_jvm()

    result = report.build(wl.name, args, setups, runs, traced, baseline,
                          tracer, sampler.peak)
    report.write_files(ROOT, wl.name, args, result, tracer)
    for line in result["summary"]:
        print(line)
    print(json.dumps(result["json"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())

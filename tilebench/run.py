"""Tiling benchmark for vtcomposite_spark.

    python3 tilebench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The inputs are generated from ``--seed``;
the engine is imported from the checkout's ``vtcomposite_spark``. The load
is a closed loop of one batch job at a time from this one process, on
``local[N]`` with N = min(4, nproc) and a fixed driver heap.

An untraced run (``--trace 0``) sets up once (session start, input
registration, one warm-up pass), then times whole passes for ``--seconds``
(at least ``MIN_PASSES``). The warm-up pass's outputs are read whole and
checked against values computed apart from the engine; every timed pass
must reproduce their digests. A traced run (``--trace 1``) reports the per-layer
metrics instead. The last stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tiles_overzoom_poly", "pages_geo")
LOCAL_N = min(4, os.cpu_count() or 1)
DRIVER_MEM = "3g"
SHUFFLE_PARTITIONS = LOCAL_N
MIN_PASSES = 1


def log(msg: str) -> None:
    print(f"[tilebench] {msg}", file=sys.stderr, flush=True)


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and let the Python workers import the engine from the checkout."""
    for d in ("tmp", "local"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    # every JVM this run starts (the launcher and the driver): temp files
    # in the work directory, and no perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["VTC_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    import tempfile
    tempfile.tempdir = None


def start_session(work: str):
    from vtcomposite_spark.schema import get_spark
    return get_spark(
        app="tilebench", master=f"local[{LOCAL_N}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.ui.showConsoleProgress": "false",
        })


def shutdown() -> None:
    """Stop the session if one is left, then end the JVM the gateway
    launched (it exits when its stdin closes, taking the Python workers
    with it) and wait for it."""
    import subprocess

    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Setup(NamedTuple):
    spark: object
    inp: dict            # registered inputs
    verified: dict       # the warm-up pass's digests
    data: dict           # the warm-up pass's outputs, read to the driver
    session_s: float
    setup_s: float


def set_up(wl: str, work: str, paths: dict) -> Setup:
    """Session start, input registration and the untimed warm-up pass,
    timed together as ``setup_s``. The warm-up pass has the same outputs
    and digests as a timed pass, with each output persisted; after the
    timing ends they are read to the driver whole, for the checks, and
    released."""
    from pyspark.storagelevel import StorageLevel

    from tilebench import pipelines
    t0 = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t0
    inp = pipelines.register(spark, wl, paths)
    outs, cached = pipelines.outputs(wl, inp)
    outs = {k: df.persist(StorageLevel.MEMORY_AND_DISK) for k, df in outs.items()}
    verified = {k: pipelines.digest(df, pipelines.OUTPUT_COLS[wl][k])
                for k, df in outs.items()}
    setup_s = time.perf_counter() - t0
    log(f"setup: {setup_s:.2f}s")
    data = collect(outs)
    for df in [*outs.values(), *cached]:
        df.unpersist()
    return Setup(spark, inp, verified, data, session_s, setup_s)


def collect(outs: dict) -> dict:
    """Tiles come back as {(z, x, y): [bytes, ...]}; other outputs as
    Arrow tables."""
    data = {}
    for name, df in outs.items():
        tbl = df.toArrow()
        if name == "tiles":
            keys = zip(tbl.column("z").to_pylist(), tbl.column("x").to_pylist(),
                       tbl.column("y").to_pylist())
            tiles: dict = {}
            for k, b in zip(keys, tbl.column("tile").to_pylist()):
                tiles.setdefault(k, []).append(b)
            data[name] = tiles
        else:
            data[name] = tbl
    return data


def verdict(wl: str, truth: dict, su: Setup, digs: list, errs=()) -> dict:
    """Check the warm-up outputs against values computed apart from the
    engine (plus any ``errs`` the caller found). A failed check fails
    every pass; otherwise a pass fails when its digests differ from the
    warm-up's."""
    from tilebench import checks
    data = dict(su.data)
    tiles = data.pop("tiles")
    errs = [*errs, *(f"{len(v)} tile rows for {k}" for k, v in tiles.items() if len(v) != 1)]
    data["tiles"] = {k: v[0] for k, v in tiles.items()}
    errs += checks.CHECKS[wl](truth, data)
    for e in errs:
        log(f"check failed: {e}")
    failed = len(digs) if errs else sum(d != su.verified for d in digs)
    return {"correct": not errs, "attempted": len(digs), "failed": failed}


def untraced(wl: str, seconds: float, work: str, truth: dict, paths: dict) -> dict:
    from tilebench import pipelines, probe
    tree = probe.ProcessTree()
    tree.start()
    su = set_up(wl, work, paths)

    walls, digs = [], []
    cpu0 = tree.cpu_seconds()
    t_start = time.perf_counter()
    while len(walls) < MIN_PASSES or time.perf_counter() - t_start < seconds:
        t0 = time.perf_counter()
        digs.append(pipelines.run_pass(wl, su.inp))
        walls.append(time.perf_counter() - t0)
        log(f"pass {len(walls)}: {walls[-1]:.2f}s")
    cpu = tree.cpu_seconds() - cpu0
    tree.stop()
    su.spark.stop()

    n = truth["n_items"]
    return {
        **verdict(wl, truth, su, digs),
        "metrics": {
            "items_per_s": {"value": n / statistics.median(walls), "unit": "1/s"},
            "cpu_s_per_kitem": {"value": cpu / (n * len(walls)) * 1000.0, "unit": "s"},
            "peak_rss_mb": {"value": tree.peak_bytes / 1e6, "unit": "MB"},
            "setup_s": {"value": su.setup_s, "unit": "s"},
        },
        "_detail": {"pass_s": walls, "cpu_s": cpu, "items": n},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "vtcomposite_spark", "__init__.py")):
        log(f"no vtcomposite_spark package at {ROOT}; run from a checkout root")
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".tilebench")
    work = os.path.join(base, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    runs = os.path.join(base, "runs")
    os.makedirs(runs, exist_ok=True)
    prepare_env(work)

    from tilebench import gen, probe
    try:
        calib = probe.calibration()
        t0 = time.perf_counter()
        truth = gen.GENERATORS[args.workload](args.seed, f"{work}/inputs")
        log(f"inputs generated in {time.perf_counter() - t0:.2f}s")
        paths = {k: v for k, v in truth.items() if isinstance(v, str)}
        if args.trace:
            from tilebench import trace
            result = trace.traced(args.workload, args.seed, work, truth, paths,
                                  runs, calib)
        else:
            result = untraced(args.workload, args.seconds, work, truth, paths)
        detail = result.pop("_detail", {})
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        with open(os.path.join(runs, name), "w") as f:
            json.dump({**result, "detail": detail, "calibration": calib,
                       "workload": args.workload, "seed": args.seed}, f, indent=1)
    finally:
        if "pyspark" in sys.modules:
            shutdown()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

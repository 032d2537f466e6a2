"""The traced run: per-layer metrics of one workload.

It times untraced passes first (their median is the base of the tracing
overhead) and reads Spark's own stage and plan-node metrics for the last
of them. Then it runs the layered pass: the same pipeline
(``pipelines.outputs``) with a ``step`` that gives each call into a layer
one span and materializes the layer's output in its own labelled job. It
replays the public kernels single-threaded on a seeded sample of the
workload's inputs. Spans and counts stay in memory and are written as
one JSON file when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np

# (name, unit) of every per-layer metric; 0 where the workload has no
# such layer
PER_LAYER = [
    ("schema.session_s", "s"), ("spark.jobs", "count"), ("spark.stages", "count"),
    ("exchange.shuffle_write_mb", "MB"), ("exchange.shuffle_records", "count"),
    ("scan.input_mb", "MB"),
    ("seam.to_python_mb", "MB"), ("seam.from_python_mb", "MB"),
    ("seam.rows_to_python", "count"), ("seam.python_s", "s"),
    ("executor.run_s", "s"), ("executor.jvm_cpu_s", "s"), ("executor.gc_s", "s"),
    ("executor.task_skew", "ratio"),
    ("ingest.decode_s", "s"), ("ingest.features_per_s", "1/s"),
    ("pages.geotag_s", "s"), ("pages.geotag_pages_per_s", "1/s"),
    ("pages.extract_text_s", "s"), ("cells.encode_s", "s"),
    ("joins.pip_s", "s"), ("joins.pip_candidates", "count"),
    ("joins.pip_matches", "count"), ("joins.knn_s", "s"),
    ("joins.knn_fallback_points", "count"),
    ("composite.wall_s", "s"), ("composite.features_in", "count"),
    ("composite.pairs_fanned", "count"), ("composite.features_out", "count"),
    ("localize.wall_s", "s"), ("localize.features_dropped", "count"),
    ("encode.wall_s", "s"), ("encode.tiles", "count"), ("encode.out_mb", "MB"),
    ("kernel.polyclip_vertices_per_s", "1/s"), ("kernel.encode_features_per_s", "1/s"),
    ("kernel.decode_features_per_s", "1/s"),
    ("trace.overhead_s", "s"), ("trace.coverage", "ratio"),
]
UNTRACED_PASSES = 2
REPLAY_SECONDS = 1.0
REPLAY_TILES = 32


def _per_call(fn, seconds: float = REPLAY_SECONDS) -> float:
    """Seconds per call of ``fn``, repeated for at least ``seconds``."""
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        el = time.perf_counter() - t0
        if el >= seconds:
            return el / n


def replay_polyclip(truth: dict, seed: int) -> float:
    """Polygon clip of two seeded source tiles' polygons into their four
    dz=1 children: vertices clipped per second."""
    from tilebench import gen
    from vtcomposite_spark import geometry as geo
    from vtcomposite_spark import polyclip

    rng = np.random.default_rng([seed, 11])
    srcs = set(rng.choice(gen.POLY_N_SRC, 2, replace=False).tolist())
    xs, ys, sizes, feat, rtype = [], [], [], [], []
    nf = 0
    for p in truth["polys"]:
        if p["src"] not in srcs:
            continue
        for c in range(4):
            ox, oy = (c % 2) * gen.EXTENT, (c // 2) * gen.EXTENT
            for k, (rx, ry) in enumerate(p["rings"]):
                xs.append(rx * 2 - ox)
                ys.append(ry * 2 - oy)
                sizes.append(len(rx))
                feat.append(nf)
                rtype.append(1 if k == 0 else 2)
            nf += 1
    g = geo.PackedParts(np.concatenate(xs), np.concatenate(ys),
                        np.concatenate([[0], np.cumsum(sizes)]).astype(np.int64),
                        np.array(feat, np.int64))
    lo = np.full(nf, -gen.POLY_BUFFER, np.int64)
    hi = np.full(nf, gen.EXTENT + gen.POLY_BUFFER, np.int64)
    asm, kept_rt, poly = geo.assemble_polygons(g, np.array(rtype, np.int8), lo, hi)
    t = _per_call(lambda: polyclip.clip_polygons_packed(asm, kept_rt, poly, lo, hi))
    return len(asm.vx) / t


def sample_keys(keys: list, seed: int) -> list:
    """A seeded sample of ``REPLAY_TILES`` tile keys."""
    keys = sorted(keys)
    rng = np.random.default_rng([seed, 12])
    return [keys[i] for i in sorted(rng.choice(len(keys), min(REPLAY_TILES, len(keys)),
                                               replace=False))]


def key_filter(keys: list):
    from pyspark.sql import functions as F
    cond = F.lit(False)
    for z, x, y in keys:
        cond = cond | ((F.col("z") == z) & (F.col("x") == x) & (F.col("y") == y))
    return cond


def replay_encode(tbl) -> float:
    """Multi-tile encoder on composited rows (an Arrow table of a sample
    of output tiles): features encoded per second."""
    from vtcomposite_spark.sources import mvt_vec
    return tbl.num_rows / _per_call(lambda: mvt_vec.encode_tiles_table(tbl))


def replay_decode(path: str, seed: int) -> float:
    """Engine MVT decoder on four seeded input blobs: features per second."""
    import pyarrow.parquet as pq

    from vtcomposite_spark.sources import mvt
    blobs = pq.read_table(path, columns=["tile"]).column("tile").to_pylist()
    rng = np.random.default_rng([seed, 13])
    pick = [blobs[i] for i in rng.choice(len(blobs), 4, replace=False)]
    nfeat = sum(len(ly.features) for b in pick for ly in mvt.decode_tile(b))
    return nfeat / _per_call(lambda: [mvt.decode_tile(b) for b in pick])


def pairs_fanned(wl: str, truth: dict) -> int:
    """(feature, target) pairs the ancestor relation offers composite:
    each source feature times the requested targets under its tile."""
    from tilebench import gen
    if wl == "tiles_overzoom_poly":
        return truth["n_features"] * sum(4 ** dz for dz in gen.POLY_DZ)
    sz, tz = gen.PAGES_SRC_Z, gen.PAGES_TARGET_Z
    per_src: dict = {}
    for _z, x, y in truth["targets_list"]:
        k = (x >> (tz - sz), y >> (tz - sz))
        per_src[k] = per_src.get(k, 0) + 1
    t = truth["tagged"]
    fx, fy = gen.mercator_xy(truth["lon"][t], truth["lat"][t], sz)
    src = zip(np.floor(fx).astype(np.int64).tolist(), np.floor(fy).astype(np.int64).tolist())
    return sum(per_src.get(k, 0) for k in src)


def pruned_vertices(truth: dict) -> int:
    """Vertices of the (polygon, target) pairs whose box meets the
    target's buffered box: what the clip of ``tiles_overzoom_poly``
    takes in after the envelope prune."""
    from tilebench import gen
    e, buf = gen.EXTENT, gen.POLY_BUFFER
    nv = np.array([sum(len(rx) for rx, _ in p["rings"]) for p in truth["polys"]])
    box = np.array([(rx.min(), ry.min(), rx.max(), ry.max())
                    for rx, ry in (p["rings"][0] for p in truth["polys"])])
    total = 0
    for dz in gen.POLY_DZ:
        f = 1 << dz
        for cx in range(f):
            for cy in range(f):
                x0, y0, x1, y1 = (box * f - [cx * e, cy * e, cx * e, cy * e]).T
                hit = (x1 >= -buf) & (x0 <= e + buf) & (y1 >= -buf) & (y0 <= e + buf)
                total += int(nv[hit].sum())
    return total


def traced(wl: str, seed: int, work: str, truth: dict, paths: dict, runs: str,
           calib: dict) -> dict:
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from tilebench import gen, mvtio, pipelines, probe
    from tilebench import run as R
    from vtcomposite_spark.operators.composite import composite

    su = R.set_up(wl, work, paths)
    spark, inp = su.spark, su.inp
    sc = spark.sparkContext
    status = probe.SparkStatus(spark)

    walls, digs = [], []
    for i in range(UNTRACED_PASSES):
        sc.setJobGroup(f"pass{i}", f"untraced pass {i}")
        t0 = time.perf_counter()
        digs.append(pipelines.run_pass(wl, inp))
        walls.append(time.perf_counter() - t0)
    m = {name: 0.0 for name, _ in PER_LAYER}
    m["schema.session_s"] = su.session_s
    m.update(status.group_metrics(f"pass{len(walls) - 1}"))
    errs = []
    # a Python node runs inside a task: its time cannot pass the tasks'
    # (UI strings are rounded to 0.1 s)
    seam_nodes = m.pop("seam.nodes")
    if m["seam.python_s"] > m["executor.run_s"] + 0.1 * seam_nodes:
        errs.append(f"seam.python_s {m['seam.python_s']:.2f} s exceeds the pass's "
                    f"task time {m['executor.run_s']:.2f} s")

    # layered pass: the same pipeline, one span per layer call
    spans, frames = [], {}
    p0 = time.perf_counter()

    def step(layer, build):
        sc.setJobGroup(f"layer:{layer}", layer)
        t = time.perf_counter()
        df = build().persist(StorageLevel.MEMORY_AND_DISK)
        rows = df.count()
        spans.append({"name": layer, "parent": "pass", "start": t - p0,
                      "end": time.perf_counter() - p0, "rows": rows})
        frames[layer] = df
        return df

    outs, _ = pipelines.outputs(wl, inp, step)
    traced_wall = time.perf_counter() - p0
    span = {s["name"]: s for s in spans}
    dur = lambda n: span[n]["end"] - span[n]["start"]  # noqa: E731
    rows = lambda n: span[n]["rows"]  # noqa: E731

    def group_jobs(layer):
        return {j["jobId"] for j in status.jobs(f"layer:{layer}")}

    sc.setJobGroup("counts", "layer counts")
    m["composite.pairs_fanned"] = pairs_fanned(wl, truth)
    m["encode.out_mb"] = outs["tiles"].agg(F.sum(F.length("tile"))).collect()[0][0] / 1e6
    if wl == "tiles_overzoom_poly":
        m["ingest.decode_s"] = dur("ingest.decode")
        m["ingest.features_per_s"] = rows("ingest.decode") / dur("ingest.decode")
        m["composite.features_in"] = rows("ingest.decode")
        m["composite.features_out"] = sum(
            len(ly["features"]) for tile in su.data["tiles"].values()
            for b in tile for ly in mvtio.decode_tile(b))
        m["encode.tiles"] = rows("composite+encode")
        m["kernel.decode_features_per_s"] = replay_decode(paths["tiles"], seed)
        m["kernel.polyclip_vertices_per_s"] = replay_polyclip(truth, seed)
        # composited rows of sample targets, built apart from the fused plan
        # only to feed the encoder replay
        keys = sample_keys(truth["targets_list"], seed)
        m["kernel.encode_features_per_s"] = replay_encode(composite(
            frames["ingest.decode"], inp["targets"].filter(key_filter(keys))).toArrow())
        # the fused span split in proportion to the replayed kernel costs
        clip_s = pruned_vertices(truth) / m["kernel.polyclip_vertices_per_s"]
        enc_s = m["composite.features_out"] / m["kernel.encode_features_per_s"]
        fused = dur("composite+encode")
        m["encode.wall_s"] = fused * enc_s / (clip_s + enc_s)
        m["composite.wall_s"] = fused - m["encode.wall_s"]
    else:
        m["pages.geotag_s"] = dur("pages.geotag")
        m["pages.geotag_pages_per_s"] = rows("pages.geotag") / dur("pages.geotag")
        m["pages.extract_text_s"] = dur("pages.extract_text")
        m["cells.encode_s"] = dur("cells.encode")
        m["joins.pip_s"] = dur("joins.pip")
        m["joins.pip_matches"] = rows("joins.pip")
        pj = group_jobs("joins.pip")
        m["joins.pip_candidates"] = sum(
            status.node_rows(pj, j) for j in
            ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"))
        m["joins.knn_s"] = dur("joins.knn")
        m["joins.knn_fallback_points"] = status.node_rows(
            group_jobs("joins.knn"), "BroadcastNestedLoopJoin") / gen.PAGES_N_SITES
        m["composite.wall_s"] = dur("composite")
        m["composite.features_in"] = int(truth["tagged"].sum())
        m["composite.features_out"] = rows("composite")
        m["localize.wall_s"] = dur("localize")
        m["localize.features_dropped"] = rows("composite") - rows("localize")
        m["encode.wall_s"] = dur("encode")
        m["encode.tiles"] = rows("encode")
        loc = frames["localize"]
        keys = sample_keys([tuple(r) for r in loc.select("z", "x", "y").distinct().collect()],
                           seed)
        m["kernel.encode_features_per_s"] = replay_encode(loc.filter(key_filter(keys)).toArrow())
    digs.append({k: pipelines.digest(df, pipelines.OUTPUT_COLS[wl][k])
                 for k, df in outs.items()})
    for df in frames.values():
        df.unpersist()
    m["trace.overhead_s"] = traced_wall - statistics.median(walls)
    m["trace.coverage"] = sum(dur(s["name"]) for s in spans) / traced_wall

    spark.stop()
    units = dict(PER_LAYER)
    with open(os.path.join(runs, f"trace-{wl}-seed{seed}.json"), "w") as f:
        json.dump({"workload": wl, "seed": seed, "calibration": calib,
                   "untraced_pass_s": walls, "traced_pass_s": traced_wall,
                   "spans": spans, "metrics": m}, f, indent=1)
    return {
        **R.verdict(wl, truth, su, digs, errs),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in m.items()},
    }

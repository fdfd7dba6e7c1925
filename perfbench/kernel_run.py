"""Kernel micro-run: ``pda_spark.geo`` and ``extract_text_series`` called
directly, outside Spark, on inputs made by the benchmark's own
generators from the run's seed. Each kernel reports the operation count
of its fixed input next to its rate, so a later kernel change can cite
exact counts; the rate is the median of REPS timed passes.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

import inputs
import reference

REPS = 3
N_POLYGONS = 300
N_POINTS = 100_000
N_FOOTPRINTS = 5_000
N_PAGES = 500


def _median_time(fn) -> float:
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def run(seed: int) -> dict[str, float]:
    from pda_spark.functions.extract import extract_text_series
    from pda_spark.geo import kernels, wkb

    pset = inputs.land_cover(seed, 99, N_POLYGONS)
    pts = inputs.point_table(seed, N_POINTS)
    lon, lat = pts["lon"].to_numpy(), pts["lat"].to_numpy()
    grid = reference.Grid(lon, lat)
    poly_wkb = pset.frame()["geom"].tolist()

    # points_in_polygons: one call per polygon on its bbox candidates,
    # as the Arrow refine groups them
    pip_jobs, edge_tests = [], 0
    for ring in pset.rings:
        minx, miny = ring.min(axis=0)
        maxx, maxy = ring.max(axis=0)
        c = grid.candidates(minx, miny, maxx, maxy)
        c = c[(lon[c] >= minx) & (lon[c] <= maxx) & (lat[c] >= miny) & (lat[c] <= maxy)]
        pip_jobs.append((np.column_stack([lon[c], lat[c]]), [[ring]]))
        edge_tests += len(c) * (len(ring) - 1)
    pip_s = _median_time(lambda: [kernels.points_in_polygons(p, g) for p, g in pip_jobs])

    # polys_intersect_batch on every bbox-overlapping footprint x polygon pair
    fp, fp_bb = inputs.footprints(seed, N_FOOTPRINTS)
    fgrid = reference.Grid((fp_bb[:, 0] + fp_bb[:, 2]) / 2, (fp_bb[:, 1] + fp_bb[:, 3]) / 2)
    ia, ib = [], []
    for j, ring in enumerate(pset.rings):
        minx, miny = ring.min(axis=0)
        maxx, maxy = ring.max(axis=0)
        c = fgrid.candidates(minx - 0.15, miny - 0.15, maxx + 0.15, maxy + 0.15)
        b = fp_bb[c]
        c = c[(b[:, 0] <= maxx) & (minx <= b[:, 2]) & (b[:, 1] <= maxy) & (miny <= b[:, 3])]
        ia.extend(c.tolist())
        ib.extend([j] * len(c))
    ga = [wkb.decode(g) for g in fp["geom"]]
    gb = [wkb.decode(g) for g in poly_wkb]
    ia_arr, ib_arr = np.asarray(ia, dtype=np.int64), np.asarray(ib, dtype=np.int64)
    pairs_s = _median_time(lambda: kernels.polys_intersect_batch(ga, gb, ia_arr, ib_arr))

    all_wkb = poly_wkb + fp["geom"].tolist()
    decode_s = _median_time(lambda: [wkb.decode(g) for g in all_wkb])

    html = inputs.web_corpus(seed, N_PAGES)["html"]
    html_bytes = int(html.map(len).sum())
    extract_s = _median_time(lambda: extract_text_series(pd.Series(html)))

    return {
        "geo.kernels.points_in_polygons.point_edge_tests": float(edge_tests),
        "geo.kernels.points_in_polygons.point_edge_tests_per_s": edge_tests / pip_s,
        "geo.kernels.polys_intersect_batch.pairs": float(len(ia)),
        "geo.kernels.polys_intersect_batch.pairs_per_s": len(ia) / pairs_s,
        "geo.wkb.decode.geoms": float(len(all_wkb)),
        "geo.wkb.decode.geoms_per_s": len(all_wkb) / decode_s,
        "functions.extract.extract_text_series.bytes": float(html_bytes),
        "functions.extract.extract_text_series.mb_per_s": html_bytes / 1e6 / extract_s,
    }

"""Per-layer metrics from the spans of a traced run.

Layers are named by the engine's modules. Every traced run reports
every metric in PER_LAYER, on every workload, so that runs compare key
by key; a layer a workload does not call reads 0. Per-request values
are medians over the run's requests.

Which end-to-end metric each layer metric should move (``spatial``
requests are a scene search, PIP and intersects, then a hotspot
analysis, DBSCAN and kNN):

* ``operators.spatial_join.{pip,intersects}.build_*`` should not move:
  the scene search's plan build is ~0. ``knn.build_*`` moves
  ``query_s.p50`` on spatial through the hotspot part.
* ``operators.spatial_join.candidate_pairs`` / ``refine_hit_ratio``
  move ``query_s.p50`` and ``rows_per_s`` on spatial through the scene
  search.
* ``operators.tiling.dbscan.*`` moves ``query_s.p50`` on spatial
  through the hotspot part.
* ``functions.geo_udfs.py_*`` (the Arrow boundary of the operators)
  moves spatial: mostly the scene search's refine, plus kNN's
  ring-cells UDF over the few query centroids, where no change is
  predicted from refine work.
  ``functions.extract.py_*`` moves ``rows_per_s`` on web_ingest.
* ``sources.checkpoint.*`` / ``sources.ingest.*`` move ``rows_per_s``
  on web_ingest (and its ``resume_s``, ``stored_bytes_per_input_byte``).
* ``spark.*`` moves ``query_s.tail`` on spatial;
  ``spark.peak_rss_mb`` is the peak RSS of the JVM plus its Python
  workers over the timed loop.
* ``geo.*`` and ``functions.extract.extract_text_series.*`` (kernels
  outside Spark) move ``py_worker_s`` and through it spatial or
  web_ingest wall time.
* ``session.start_s``, ``session.load_s`` and ``session.warmup_s``
  (the untimed warm-up requests) add up to ``setup_s`` everywhere.
"""

from __future__ import annotations

import statistics

from spans import (
    PEAK_MEM,
    PY_RETURNED,
    PY_SENT,
    PY_TIME,
    ROWS,
    SHUFFLE_WRITTEN,
    SPILL,
    WRITTEN_BYTES,
    WRITTEN_FILES,
    Tracer,
    self_times,
)

STAGES = ("web_pages", "footprints", "satellites", "item_types", "sat_images")
REFINE_UDFS = ("point_in_polygon_lonlat", "intersects_pair")
FLAG_SHARE = 0.15

PER_LAYER: dict[str, str] = {}
for _op in ("pip", "intersects", "knn"):
    PER_LAYER.update(
        {
            f"operators.spatial_join.{_op}.build_s": "s",
            f"operators.spatial_join.{_op}.build_jobs": "count",
            f"operators.spatial_join.{_op}.exec_s": "s",
            f"operators.spatial_join.{_op}.exec_tasks": "count",
        }
    )
PER_LAYER.update(
    {
        "operators.spatial_join.candidate_pairs": "count",
        "operators.spatial_join.result_rows": "count",
        "operators.spatial_join.refine_hit_ratio": "1",
        "operators.tiling.dbscan.build_s": "s",
        "operators.tiling.dbscan.build_jobs": "count",
        "operators.tiling.dbscan.exec_s": "s",
    }
)
for _mod in ("geo_udfs", "extract"):
    PER_LAYER.update(
        {
            f"functions.{_mod}.py_bytes_sent": "B",
            f"functions.{_mod}.py_bytes_returned": "B",
            f"functions.{_mod}.py_worker_s": "s",
            f"functions.{_mod}.py_rows": "count",
        }
    )
PER_LAYER.update({f"sources.checkpoint.stage_s.{s}": "s" for s in STAGES})
PER_LAYER.update(
    {
        "sources.checkpoint.jobs": "count",
        "sources.checkpoint.bytes_written": "B",
        "sources.checkpoint.files_written": "count",
        "sources.checkpoint.rows_written": "count",
        "sources.checkpoint.resume_jobs": "count",
        "sources.checkpoint.stored_bytes_per_input_byte": "1",
        "sources.ingest.resume_s": "s",
        "spark.stages": "count",
        "spark.shuffle_bytes_written": "B",
        "spark.spill_bytes": "B",
        "spark.peak_memory_bytes": "B",
        "spark.peak_rss_mb": "MB",
        "geo.kernels.points_in_polygons.point_edge_tests": "count",
        "geo.kernels.points_in_polygons.point_edge_tests_per_s": "1/s",
        "geo.kernels.polys_intersect_batch.pairs": "count",
        "geo.kernels.polys_intersect_batch.pairs_per_s": "1/s",
        "geo.wkb.decode.geoms": "count",
        "geo.wkb.decode.geoms_per_s": "1/s",
        "functions.extract.extract_text_series.bytes": "B",
        "functions.extract.extract_text_series.mb_per_s": "MB/s",
        "session.start_s": "s",
        "session.load_s": "s",
        "session.warmup_s": "s",
        "trace.request_s": "s",
        "trace.unattributed_share": "1",
        "trace.flagged_requests": "count",
    }
)


def unit_of(name: str) -> str:
    return PER_LAYER[name]


def request_extras(wl, out) -> dict:
    """Per-request facts the loop keeps whether or not tracing is on."""
    extra = {"result_rows": wl.result_rows(out)}
    if wl.name == "web_ingest":
        ckdir, a, b, resume_s = out
        extra["resume_s"] = resume_s
        extra["stored_per_input"] = wl.stored_bytes(ckdir) / wl.input_bytes(a, b)
    return extra


def workload_e2e(wl, extras) -> dict:
    """Workload-specific end-to-end figures printed beside the shared ones."""
    if wl.name != "web_ingest":
        return {}
    ok = [e for e in extras if e]
    return {
        "resume_s": (statistics.median(e["resume_s"] for e in ok), "s"),
        "stored_bytes_per_input_byte": (statistics.median(e["stored_per_input"] for e in ok), "1"),
    }


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def per_layer(wl, tracer: Tracer, extras, start_s: float, load_s: float, warm_s: float) -> dict[str, float]:
    spans = tracer.spans
    selfs = self_times(spans)
    roots = [i for i, s in enumerate(spans) if s.parent is None and s.request is not None]
    per_req = []
    for r in roots:
        mine = [i for i, s in enumerate(spans) if s.request == spans[r].request]
        per_req.append(_request_layers(spans, selfs, r, mine))
    out = {k: _med(d.get(k, 0.0) for d in per_req) for k in PER_LAYER}
    ok = [e for e in extras if e]
    out["operators.spatial_join.result_rows"] = _med(e["result_rows"] for e in ok) if wl.name != "web_ingest" else 0.0
    cand = out["operators.spatial_join.candidate_pairs"]
    out["operators.spatial_join.refine_hit_ratio"] = (
        _med(e["result_rows"] / d["operators.spatial_join.candidate_pairs"] for d, e in zip(per_req, extras) if e)
        if cand
        else 0.0
    )
    if wl.name == "web_ingest":
        out["sources.ingest.resume_s"] = _med(e["resume_s"] for e in ok)
        out["sources.checkpoint.stored_bytes_per_input_byte"] = _med(e["stored_per_input"] for e in ok)
    out["session.start_s"] = start_s
    out["session.load_s"] = load_s
    out["session.warmup_s"] = warm_s
    out["trace.flagged_requests"] = float(sum(d["_flag"] for d in per_req))
    return out


def _request_layers(spans, selfs, root, mine) -> dict[str, float]:
    d: dict[str, float] = {}
    by_name = {}
    for i in mine:
        by_name.setdefault(spans[i].name, []).append(spans[i])

    def total(prefix: str, key: str) -> float:
        return sum(spans[i].sql.get(key, 0.0) for i in mine if spans[i].name.startswith(prefix))

    for op in ("pip", "intersects", "knn"):
        for s in by_name.get(f"operators.spatial_join.{op}.build", []):
            d[f"operators.spatial_join.{op}.build_s"] = s.dur
            d[f"operators.spatial_join.{op}.build_jobs"] = len(s.jobs)
        for s in by_name.get(f"operators.spatial_join.{op}.exec", []):
            d[f"operators.spatial_join.{op}.exec_s"] = s.dur
            d[f"operators.spatial_join.{op}.exec_tasks"] = s.tasks
    for s in by_name.get("operators.tiling.dbscan.build", []):
        d["operators.tiling.dbscan.build_s"] = s.dur
        d["operators.tiling.dbscan.build_jobs"] = len(s.jobs)
    for s in by_name.get("operators.tiling.dbscan.exec", []):
        d["operators.tiling.dbscan.exec_s"] = s.dur

    cand = sum(total("operators.spatial_join.", f"python[{u}]:{ROWS}") for u in REFINE_UDFS)
    d["operators.spatial_join.candidate_pairs"] = cand

    for mod, prefix in (("geo_udfs", "operators."), ("extract", "sources.")):
        d[f"functions.{mod}.py_bytes_sent"] = total(prefix, f"python:{PY_SENT}")
        d[f"functions.{mod}.py_bytes_returned"] = total(prefix, f"python:{PY_RETURNED}")
        d[f"functions.{mod}.py_worker_s"] = total(prefix, f"python:{PY_TIME}")
        d[f"functions.{mod}.py_rows"] = total(prefix, f"python:{ROWS}")

    ingest = [i for i in mine if spans[i].name.startswith("sources.") and not _under(spans, i, "sources.ingest.resume")]
    resume = [i for i in mine if _under(spans, i, "sources.ingest.resume")]
    for stage in STAGES:
        first = [spans[i] for i in ingest if spans[i].name == f"sources.checkpoint.{stage}"]
        if first:
            d[f"sources.checkpoint.stage_s.{stage}"] = first[0].dur
    if ingest:
        d["sources.checkpoint.jobs"] = sum(len(spans[i].jobs) for i in ingest)
        d["sources.checkpoint.resume_jobs"] = sum(len(spans[i].jobs) for i in resume)
        both = ingest + resume
        d["sources.checkpoint.bytes_written"] = sum(spans[i].sql.get(f"write:{WRITTEN_BYTES}", 0.0) for i in both)
        d["sources.checkpoint.files_written"] = sum(spans[i].sql.get(f"write:{WRITTEN_FILES}", 0.0) for i in both)
        d["sources.checkpoint.rows_written"] = sum(spans[i].sql.get(f"write:{ROWS}", 0.0) for i in both)

    d["spark.stages"] = sum(spans[i].stages for i in mine)
    for key, metric in (("shuffle_bytes_written", SHUFFLE_WRITTEN), ("spill_bytes", SPILL)):
        d[f"spark.{key}"] = sum(
            spans[i].sql.get(f"{kind}:{metric}", 0.0) for i in mine for kind in ("node", "python", "write")
        )
    d["spark.peak_memory_bytes"] = max((spans[i].sql.get(f"max:{PEAK_MEM}", 0.0) for i in mine), default=0.0)

    wall = spans[root].dur
    d["trace.request_s"] = wall
    d["trace.unattributed_share"] = selfs[root] / wall if wall else 0.0
    d["_flag"] = d["trace.unattributed_share"] > FLAG_SHARE
    return d


def _under(spans, i: int, name: str) -> bool:
    while i is not None:
        if spans[i].name == name:
            return True
        i = spans[i].parent
    return False


def dump_spans(tracer: Tracer, facts: dict, e2e: dict, info: dict) -> dict:
    return {
        "host": facts,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in {**e2e, **info}.items()},
        "spans": [
            {
                "name": s.name,
                "request": s.request,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "jobs": s.jobs,
                "stages": s.stages,
                "tasks": s.tasks,
                "sql": s.sql,
            }
            for s in tracer.spans
        ],
    }

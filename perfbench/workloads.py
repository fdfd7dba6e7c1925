"""The two workloads: inputs, reference, warmup, one request, check.

``spatial`` runs a scene search (``SceneSearch``) and a hotspot analysis
(``Hotspots``) in every request; ``web_ingest`` runs a checkpointed
ingest and its resume. The two spatial parts share one workload so that
a run pays one session start and one warm-up for both and can spend the
time on longer measurement instead.

Each workload is a closed loop with one client: ``request(i)`` runs to
completion (its results collected to the Spark driver) before request i+1 is
sent. Inputs and the reference answers are built in ``__init__``, before
any session exists; ``load`` hands the inputs to a session and is part
of set-up.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import duckdb
import numpy as np
import pandas as pd

import inputs
import reference
from pda_spark.sources.checkpoint import CheckpointManager
from spans import Tracer


class SceneSearch:
    """Reference-style scene search: land cover x points (PIP) and land
    cover x footprints (intersects), aggregated per polygon. Candidate
    shipping and the exact Arrow refine dominate; plan build is ~0."""

    N_POINTS = 150_000
    N_POLYGONS = 2_000
    N_SETS = 2
    N_FOOTPRINTS = 4_000
    RES = 7

    def __init__(self, seed: int, work_dir: str):
        pts = inputs.point_table(seed, self.N_POINTS)
        self.sets = [inputs.land_cover(seed, s, self.N_POLYGONS) for s in range(self.N_SETS)]
        self.fp, fp_bb = inputs.footprints(seed, self.N_FOOTPRINTS)
        self.points = pts
        grid = reference.Grid(pts["lon"].to_numpy(), pts["lat"].to_numpy())
        near = np.zeros(len(pts), dtype=bool)
        for ps in self.sets:
            near |= reference.pip_counts(pts["lon"].to_numpy(), pts["lat"].to_numpy(), ps, grid)[1]
        # no point lies on (within 1e-7 deg of) any polygon edge
        self.points = pts[~near].reset_index(drop=True)
        lon, lat = self.points["lon"].to_numpy(), self.points["lat"].to_numpy()
        grid = reference.Grid(lon, lat)
        fgrid = reference.Grid((fp_bb[:, 0] + fp_bb[:, 2]) / 2, (fp_bb[:, 1] + fp_bb[:, 3]) / 2)
        self.expected = [
            (reference.pip_counts(lon, lat, ps, grid)[0], reference.intersects_counts(fp_bb, ps, fgrid))
            for ps in self.sets
        ]
        self.rows_per_request = len(self.points)

    def load(self, spark) -> None:
        self.points_df = spark.createDataFrame(self.points).persist()
        self.fp_df = spark.createDataFrame(self.fp).persist()
        self.points_df.count()
        self.fp_df.count()
        self.poly_dfs = [spark.createDataFrame(ps.frame()) for ps in self.sets]

    def request(self, i: int, tr: Tracer):
        from pda_spark.operators.spatial_join import intersects_join, points_in_polygons_join

        polys = self.poly_dfs[i % self.N_SETS]
        with tr.span("operators.spatial_join.pip.build"):
            pip = points_in_polygons_join(
                self.points_df, polys, res=self.RES, lonlat_cols=("lon", "lat"), poly_geom="geom"
            ).groupBy("poly_id").count()
        with tr.span("operators.spatial_join.pip.exec"):
            pip_rows = pip.collect()
        with tr.span("operators.spatial_join.intersects.build"):
            ij = intersects_join(self.fp_df, polys).groupBy("poly_id").count()
        with tr.span("operators.spatial_join.intersects.exec"):
            ij_rows = ij.collect()
        return {r["poly_id"]: r["count"] for r in pip_rows}, {r["poly_id"]: r["count"] for r in ij_rows}

    def check(self, i: int, out) -> bool:
        pip, ij = out
        want_pip, want_ij = self.expected[i % self.N_SETS]
        return pip == want_pip and ij == want_ij

    def result_rows(self, out) -> int:
        return sum(out[0].values()) + sum(out[1].values())


class Hotspots:
    """DBSCAN hotspots, reduced to centroids, then exact kNN into a
    sparse target table. Eager plan-build jobs (connected-components
    rounds, kNN guard checkpoints and ring-widening retries) dominate;
    the only Python work is kNN's ring-cells UDF over the few centroids."""

    N_POINTS = 2_000
    N_SAMPLES = 2
    EPS = 0.02
    MIN_PTS = 8
    N_TARGETS = 2_000
    K = 8
    RES = 9
    MAX_RING = 1

    def __init__(self, seed: int, work_dir: str):
        self.samples = [
            inputs.hotspot_sample(seed, s, self.N_POINTS, self.EPS) for s in range(self.N_SAMPLES)
        ]
        self.targets = inputs.knn_targets(seed, self.N_TARGETS)
        self.rows_per_request = self.N_POINTS
        self.expected = []
        for smp in self.samples:
            ids, x, y = smp["id"].to_numpy(), smp["x"].to_numpy(), smp["y"].to_numpy()
            core, label = reference.dbscan(ids, x, y, self.EPS, self.MIN_PTS)
            cl, qx, qy = reference.centroids(ids, x, y, label)
            nn = reference.knn(
                qx, qy, self.targets["tid"].to_numpy(), self.targets["tlon"].to_numpy(),
                self.targets["tlat"].to_numpy(), self.K,
            )
            self.expected.append((core, label, dict(zip(cl.tolist(), nn))))

    def load(self, spark) -> None:
        self.sample_dfs = [spark.createDataFrame(s).persist() for s in self.samples]
        for df in self.sample_dfs:
            df.count()
        self.targets_df = spark.createDataFrame(self.targets).persist()
        self.targets_df.count()

    def request(self, i: int, tr: Tracer):
        from pda_spark.operators import tiling
        from pda_spark.operators.spatial_join import knn_join

        smp = self.samples[i % self.N_SAMPLES]
        pts = self.sample_dfs[i % self.N_SAMPLES]
        with tr.span("operators.tiling.dbscan.build"):
            lab = tiling.dbscan(pts, eps=self.EPS, min_pts=self.MIN_PTS, id_col="id", x_col="x", y_col="y")
        with tr.span("operators.tiling.dbscan.exec"):
            lab_pd = lab.toPandas()
        with tr.span("client.centroids"):
            lab_pd = lab_pd.set_index("id").reindex(smp["id"])
            label = lab_pd["cluster_id"].fillna(-1).to_numpy(dtype=np.int64)
            cl, qx, qy = reference.centroids(
                smp["id"].to_numpy(), smp["x"].to_numpy(), smp["y"].to_numpy(), label
            )
            queries = tr.spark.createDataFrame(
                pd.DataFrame({"query_id": cl, "qgeom": [inputs.wkb_point(a, b) for a, b in zip(qx, qy)]})
            )
        with tr.span("operators.spatial_join.knn.build"):
            nn = knn_join(
                self.targets_df, queries, k=self.K, res=self.RES, query_geom="qgeom",
                query_id="query_id", max_ring=self.MAX_RING, metric="degrees",
                tiebreak="tid", lonlat_cols=("tlon", "tlat"),
            )
        with tr.span("operators.spatial_join.knn.exec"):
            nn_rows = nn.select("query_id", "tid", "knn_rank").collect()
        got = {}
        for r in sorted(nn_rows, key=lambda r: (r["query_id"], r["knn_rank"])):
            got.setdefault(r["query_id"], []).append(r["tid"])
        return lab_pd["is_core"].to_numpy(dtype=object) == True, label, got  # noqa: E712

    def check(self, i: int, out) -> bool:
        core, label, nn = out
        want_core, want_label, want_nn = self.expected[i % self.N_SAMPLES]
        return (
            np.array_equal(core, want_core)
            and np.array_equal(label, want_label)
            and nn.keys() == want_nn.keys()
            and all(list(nn[q]) == list(want_nn[q]) for q in nn)
        )


class Spatial:
    """One request = a scene search, then a hotspot analysis, both
    checked. Rows are the points of both parts."""

    name = "spatial"
    row_unit = "points"
    WARMUPS = 1

    def __init__(self, seed: int, work_dir: str):
        self.scene = SceneSearch(seed, work_dir)
        self.hot = Hotspots(seed, work_dir)
        self.rows_per_request = self.scene.rows_per_request + self.hot.rows_per_request

    def load(self, spark) -> None:
        self.scene.load(spark)
        self.hot.load(spark)

    def request(self, i: int, tr: Tracer):
        return self.scene.request(i, tr), self.hot.request(i, tr)

    def check(self, i: int, out) -> bool:
        return self.scene.check(i, out[0]) and self.hot.check(i, out[1])

    def result_rows(self, out) -> int:
        # rows of the refined joins only: refine_hit_ratio divides this by
        # their candidate pairs, and kNN has no refine step
        return self.scene.result_rows(out[0])


class WebIngest:
    """Checkpointed ingest of a seeded page range into a fresh
    checkpoint directory, a simulated crash that loses every manifest
    after ``footprints``, and the resume. Regex/JSON work at the Arrow
    boundary plus parquet writes and manifest commits."""

    name = "web_ingest"
    row_unit = "pages"
    # a request is ~50 small Spark jobs; the second still takes about
    # 1.5x the steady request time
    WARMUPS = 2
    N_CORPUS = 5_000
    N_PAGES = 500
    LOST = ("satellites", "item_types", "sat_images")
    STAGES = ("web_pages", "footprints", "satellites", "item_types", "sat_images")

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.corpus = inputs.web_corpus(seed, self.N_CORPUS)
        self.has_fp = self.corpus["html"].map(lambda h: b"application/geo+json" in h).to_numpy()
        self.in_dir = os.path.join(work_dir, "inputs", "pages")
        os.makedirs(self.in_dir, exist_ok=True)
        self.corpus.to_parquet(
            os.path.join(self.in_dir, "part-0.parquet"), index=False, coerce_timestamps="us"
        )
        self.ckpt_root = os.path.join(work_dir, "ckpt")
        self.rows_per_request = self.N_PAGES
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")

    def load(self, spark) -> None:
        self.pages_df = spark.read.parquet(self.in_dir)
        self.pages_df.schema  # resolve the file listing during set-up

    def page_range(self, i: int) -> tuple[int, int]:
        a = int(inputs.rng_for(self.seed, 7, i).integers(0, self.N_CORPUS - self.N_PAGES + 1))
        return a, a + self.N_PAGES

    def request(self, i: int, tr: Tracer):
        from pyspark.sql import functions as F

        from pda_spark.sources.ingest import ingest_web_corpus

        a, b = self.page_range(i)
        lo, hi = self.corpus["url"].iloc[a], self.corpus["url"].iloc[b - 1]
        pages = self.pages_df.filter(F.col("url").between(lo, hi))
        ckdir = os.path.join(self.ckpt_root, f"r{i}")
        shutil.rmtree(ckdir, ignore_errors=True)
        with tr.span("sources.ingest"):
            ingest_web_corpus(pages, TracedCheckpointManager(tr, ckdir))
        with tr.span("client.crash"):
            for name in self.LOST:
                os.remove(os.path.join(ckdir, name, "manifest.json"))
        t0 = time.perf_counter()
        with tr.span("sources.ingest.resume"):
            ingest_web_corpus(pages, TracedCheckpointManager(tr, ckdir))
        return ckdir, a, b, time.perf_counter() - t0

    def check(self, i: int, out) -> bool:
        ckdir, a, b, _ = out
        want = self.corpus.iloc[a:b]
        pages = self.con.execute(
            "SELECT url, text FROM read_parquet(?)",
            [glob.glob(os.path.join(ckdir, "web_pages", "data", "*.parquet"))],
        ).df()
        sat = self.con.execute(
            "SELECT count(*), count(DISTINCT id) FROM read_parquet(?)",
            [glob.glob(os.path.join(ckdir, "sat_images", "data", "*.parquet"))],
        ).fetchone()
        text_ok = (
            len(pages) == len(want)
            and pages.set_index("url")["text"].reindex(want["url"]).tolist() == want["text"].tolist()
        )
        n_fp = int(self.has_fp[a:b].sum())
        return bool(text_ok and sat[0] == n_fp and sat[1] == n_fp)

    def stored_bytes(self, ckdir: str) -> int:
        total = 0
        for name in self.STAGES:
            with open(os.path.join(ckdir, name, "manifest.json")) as f:
                m = json.load(f)
            if m.get("status") == "committed":
                total += int(m["bytes"])
        return total

    def input_bytes(self, a: int, b: int) -> int:
        rows = self.corpus.iloc[a:b]
        return int(rows["html"].map(len).sum() + rows["text"].map(lambda t: len(t.encode("utf-8"))).sum())

    def cleanup(self, out) -> None:
        shutil.rmtree(out[0], ignore_errors=True)

    def result_rows(self, out) -> int:
        return int(self.has_fp[out[1] : out[2]].sum())


class TracedCheckpointManager(CheckpointManager):
    """CheckpointManager whose stage commits are spans."""

    def __init__(self, tracer: Tracer, base_dir: str):
        super().__init__(tracer.spark, base_dir)
        self._tracer = tracer

    def stage(self, name, build, parents=None, cluster_by=None):
        with self._tracer.span(f"sources.checkpoint.{name}"):
            return super().stage(name, build, parents=parents, cluster_by=cluster_by)

    def merge_append(self, df, name, key, parents=None):
        with self._tracer.span(f"sources.checkpoint.{name}"):
            return super().merge_append(df, name, key, parents=parents)


WORKLOADS = {w.name: w for w in (Spatial, WebIngest)}

"""Scaling-efficiency evidence (BASELINE north_rule: >=0.8 throughput
scaling efficiency between parallelism N and 4N).

Usage::

    python scripts/bench_scaling.py LEG [--rows N] [--levels 1x2,1x8]
                                        [--reps R] [--alternations A]

LEG is one of the entries of ``LEGS`` below (pip, wkb, irregular, text,
buffer, media, hilbert, snap, cc). The result goes to
``BENCH/scaling.json`` for ``pip`` and ``BENCH/scaling_<LEG>.json`` for
every other leg. The defaults of each leg reproduce its committed file.

Methodology, shared by every leg:

- **local-cluster proxy.** Without an external cluster, Spark's
  ``local-cluster[N, C, M]`` master launches N real executor JVMs
  (own heap, own Python worker pool, own shuffle/serialization paths)
  against an in-process standalone manager: the faithful single-machine
  proxy for a multi-executor deployment, and much more honest than
  thread-count local[N] levels (a single local[K] JVM hits a per-JVM
  serialization ceiling, ~0.9 M rows/s for the PIP leg, that neither
  K=8 nor K=32 threads moves). Each level runs in a fresh process of
  this script, so every level gets its own master and executor JVMs with
  identical per-executor resources.
- **Host throttle, so the cores axis.** The host that recorded
  BENCH/scaling*.json (32 cores, time-shared) throttles JVM-heavy
  load above ~10 busy cores regardless of configuration (a pure-Python
  busy loop scales linearly to 32 processes while every Spark config
  above ~8 active cores degrades), and sustained multi-JVM load ran 3x
  SLOWER with 4 executors than with 1 (BENCH/BASELINE.md §2-3). The two
  levels are therefore N -> 4N cores inside one executor: 1x2 -> 1x8 for
  legs with one busy process per task slot, 1x1 -> 1x4 for Arrow legs
  (each Arrow task runs a JVM feeder plus a Python worker, two busy
  processes) and for long legs whose 1x8 level brushed the throttle.
- **Inputs.** A leg with a generator materializes its input once as
  parquet in ``<tmpdir>/pda_scaling_<input>_<rows>``; both levels read
  the same files and a later run at the same row count reuses them.
  The other legs derive their rows from ``spark.range`` deterministically.
- **Warm-up, then min of reps.** Each level first runs the job on a
  1/20-1/50 slice (Arrow worker import storm, codegen, executor spin-up),
  then times ``--reps`` full runs and keeps the minimum (GC pauses).
- **Alternation.** The host is time-shared with minutes-long noisy
  episodes (the same job measured 7 s and 180 s), so the two levels run
  ALTERNATED ``--alternations`` times; the per-level minimum is reported
  and every sample is kept in ``all_samples``.
- **Efficiency** = t_lo / (ratio * t_hi), ratio = hi cores / lo cores.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TARGET = 0.8
TIMEOUT_S = 1800
N_LAND_COVER = 2400  # irregular leg: land-cover polygons joined against the footprints

ARROW = {"spark.sql.execution.arrow.pyspark.enabled": "true"}
ARROW_BATCHED = {**ARROW, "spark.sql.execution.arrow.maxRecordsPerBatch": "65536"}


@dataclass(frozen=True)
class Leg:
    out: str  # file name under BENCH/
    job: str
    rows: int
    levels: str
    reps: int
    alternations: int
    mem_mb: int  # per executor JVM
    row_key: str
    tput_key: str
    tput_scale: float  # throughput = rows / elapsed / tput_scale
    # run(spark, n, path) -> (rows, job) where job(warm) runs the measured
    # job on the warm-up slice (warm=True) or the full input
    run: Callable
    gen: Callable | None = None  # gen(spark, n, path) writes the input
    input: str | None = None  # input name; legs sharing one share the files
    conf: dict = field(default_factory=dict)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _twentieth(df, id_col: str):
    return df.filter(F.pmod(F.col(id_col), F.lit(20)) == 0)


def _cores(spark) -> int:
    """Total task slots of the ``local-cluster[E,C,M]`` master."""
    n_exec, cpe, _mem = spark.sparkContext.master[len("local-cluster[") : -1].split(",")
    return int(n_exec) * int(cpe)


# ------------------------------------------------------------------ legs


def _points_gen(spark, n, path):
    from pda_spark.plans.registry import _mk_point

    (
        spark.range(0, n, numPartitions=128)
        .withColumn("lon", F.pmod(F.col("id") * 7919 + 13, F.lit(4000)) / 100.0 - 20.0)
        .withColumn("lat", F.pmod(F.col("id") * 104729 + 7, F.lit(2500)) / 100.0 + 36.0)
        .withColumn("geom", _mk_point(F.col("lon"), F.col("lat")))
        .select(F.col("id").alias("event_id"), "geom", "lon", "lat")
        .write.mode("overwrite")
        .parquet(path)
    )


def _pip_run(spark, n, path, wkb_input=False):
    from pda_spark.geo import wkb as W
    from pda_spark.operators import spatial_join
    from pda_spark.plans.registry import BOXES

    # no repartition: the generator wrote 128 files, so the scan is already
    # parallel at both levels, and the PIP join is broadcast-side; an input
    # repartition would add a multi-GB cross-executor shuffle that the
    # single-JVM level never pays (measured: it inverted 1x2-vs-4x2 scaling
    # at 32M points). Minimizing shuffles IS the scale lesson.
    pts = spark.read.parquet(path)
    boxes = spark.createDataFrame(
        [(b[0], bytearray(W.box(b[1], b[2], b[3], b[4]))) for b in BOXES],
        "box_id int, box_geom binary",
    )

    def job(warm):
        df = _twentieth(pts, "event_id") if warm else pts
        if wkb_input:
            out = spatial_join.points_in_polygons_join(
                df.select("event_id", "geom"), boxes, res=7, poly_geom="box_geom"
            )
        else:
            out = spatial_join.points_in_polygons_join(
                df, boxes, res=7, poly_geom="box_geom", lonlat_cols=("lon", "lat")
            )
        _noop(out.groupBy("box_id").agg(F.count(F.lit(1)).alias("n_points")))

    return pts.count(), job


def _irregular_gen(spark, n, path):
    import pyspark.sql.types as T
    from pyspark.sql.functions import pandas_udf

    from pda_spark.geo import wkb as W

    @pandas_udf(T.BinaryType())
    def mk_irr(cx: pd.Series, cy: pd.Series, r: pd.Series, seed: pd.Series) -> pd.Series:
        out = []
        for x, y, rr, s in zip(cx, cy, r, seed):
            rng = np.random.default_rng(int(s))
            nv = 5 + int(s) % 5
            ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
            rad = rr * rng.uniform(0.5, 1.0, nv)
            ring = np.column_stack([x + rad * np.cos(ang), y + rad * np.sin(ang)])
            out.append(W.polygon([np.vstack([ring, ring[:1]])]))
        return pd.Series(out)

    (
        spark.range(0, n, numPartitions=128)
        .select(
            F.col("id").alias("img_id"),
            (F.pmod(F.col("id") * 7919, F.lit(40000)) / 1000.0 - 20.0).alias("cx"),
            (F.pmod(F.col("id") * 104729, F.lit(22000)) / 1000.0 + 37.0).alias("cy"),
            (F.pmod(F.col("id"), F.lit(80)) / 1000.0 + 0.02).alias("r"),
            F.pmod(F.col("id"), F.lit(9973)).alias("seed"),
        )
        .withColumn("fgeom", mk_irr("cx", "cy", "r", "seed"))
        .select("img_id", "fgeom")
        .write.mode("overwrite")
        .parquet(os.path.join(path, "foot"))
    )
    (
        spark.range(N_LAND_COVER)
        .select(
            F.col("id").alias("lc_id"),
            (F.pmod(F.col("id") * 31, F.lit(40000)) / 1000.0 - 20.0).alias("cx"),
            (F.pmod(F.col("id") * 57, F.lit(22000)) / 1000.0 + 37.0).alias("cy"),
            (F.pmod(F.col("id"), F.lit(200)) / 500.0 + 0.1).alias("r"),
            F.pmod(F.col("id"), F.lit(997)).alias("seed"),
        )
        .withColumn("lgeom", mk_irr("cx", "cy", "r", "seed"))
        .select("lc_id", "lgeom")
        .write.mode("overwrite")
        .parquet(os.path.join(path, "lc"))
    )


def _irregular_run(spark, n, path):
    from pda_spark.operators import spatial_join

    foot = spark.read.parquet(os.path.join(path, "foot"))
    lc = spark.read.parquet(os.path.join(path, "lc"))

    def job(warm):
        df = _twentieth(foot, "img_id") if warm else foot
        pairs = spatial_join.intersects_join(df, lc, res=7, left_geom="fgeom", right_geom="lgeom")
        _noop(pairs.groupBy("lc_id").agg(F.count(F.lit(1)).alias("n")))

    return foot.count(), job


def _docs_gen(spark, n, path):
    # synthetic web-page text: ~60 tokens/doc from a zipf-ish vocabulary,
    # deterministic, built JVM-side (concat of hashed token picks)
    vocab = (
        "the a of to and in page data news spark join table row scan fast "
        "slow merge batch value line query filter hash vector stream big "
        "small window order customer part group key column agg"
    ).split()
    words = F.array(*[F.lit(w) for w in vocab])
    # the pmod bound MUST match: element_at is 1-based and ANSI mode
    # (Spark 4 default) throws on overflow
    n_vocab = len(vocab)
    (
        spark.range(0, n, numPartitions=128)
        .withColumn(
            "text",
            F.concat_ws(" ", F.transform(
                F.sequence(F.lit(1), F.lit(60)),
                lambda i: F.element_at(
                    words, (F.pmod(F.xxhash64(F.col("id") * 131 + i), F.lit(n_vocab)) + 1).cast("int")
                ),
            )),
        )
        .select(F.col("id").alias("doc_id"), "text")
        .write.mode("overwrite")
        .parquet(path)
    )


def _text_run(spark, n, path):
    from pda_spark.functions import dedup

    docs = spark.read.parquet(path)

    def job(warm):
        sh = dedup.doc_shingle_hashes(_twentieth(docs, "doc_id") if warm else docs, "doc_id")
        # shingle document frequency: the map-side-combinable aggregate every
        # near-dup pipeline starts with; count-only sink
        _noop(sh.groupBy("h").agg(F.count(F.lit(1)).alias("df")))

    return docs.count(), job


def _polys_gen(spark, n, path):
    from pda_spark.geo import wkb as W

    def poly_wkb(i):
        w, h = 2.0 + (i % 7) * 0.6, 1.5 + (i % 5) * 0.5
        off = (i % 13) * 0.1
        outer = np.array([[0, 0], [w, 0], [w, h], [0, h], [0, 0]], dtype=np.float64) + off
        rings = [outer]
        if i % 4 == 0:
            rings.append(np.array(
                [[w * 0.4, h * 0.4], [w * 0.6, h * 0.4], [w * 0.6, h * 0.6],
                 [w * 0.4, h * 0.6], [w * 0.4, h * 0.4]]
            ) + off)
        return bytearray(W.polygon(rings))

    pdf = pd.DataFrame({"poly_id": range(n), "geom": [poly_wkb(i) for i in range(n)]})
    # 16 files so the scan parallelizes at every measured level
    spark.createDataFrame(pdf).repartition(16).write.mode("overwrite").parquet(path)


def _buffer_run(spark, n, path):
    from pda_spark.functions import geo_udfs

    polys = spark.read.parquet(path)
    area = geo_udfs.buffer_area_planar(-0.35)

    def job(warm):
        df = _twentieth(polys, "poly_id") if warm else polys
        _noop(df.select("poly_id", area(F.col("geom")).alias("ero_area")).agg(F.sum("ero_area")))

    return polys.count(), job


def _media_gen(spark, n, path):
    from pyspark.sql import types as T

    def make_media(batches):
        from pda_spark.functions import multimodal

        for pdf in batches:
            rows = []
            for did in pdf["id"]:
                did = int(did)
                # 60..123 x 48..87 px: decode work dominates per row, and
                # BMP stride padding varies with width
                w, h = 60 + did % 64, 48 + did % 40
                i = np.arange(w * h * 3, dtype=np.int64)
                px = ((did * 31 + i * 7) % 256).astype(np.uint8).reshape(h, w, 3)
                enc = multimodal.encode_bmp if did % 2 else multimodal.encode_ppm
                rows.append({"media_id": f"{did:08d}", "payload": enc(px)})
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    schema = T.StructType([
        T.StructField("media_id", T.StringType()),
        T.StructField("payload", T.BinaryType()),
    ])
    (
        spark.range(0, n, numPartitions=64)
        .mapInPandas(make_media, schema)
        .write.mode("overwrite")
        .parquet(path)
    )


def _media_run(spark, n, path):
    from pda_spark.functions import multimodal

    media = spark.read.parquet(path).repartition(4 * _cores(spark))

    def job(warm):
        _noop(multimodal.downsample_block_mean(media.limit(500) if warm else media, out_w=4, out_h=4))

    return media.count(), job


def _hilbert_run(spark, n, path):
    from pda_spark.functions import geo_udfs

    res = 12
    n_grid = 1 << res
    width = 4 * _cores(spark)

    def job(warm):
        base = spark.range(n // 50 if warm else n, numPartitions=width).select(
            F.pmod(F.col("id") * 2654435761, F.lit(n_grid)).alias("gx"),
            F.pmod(F.col("id") * 40503 + 7919, F.lit(n_grid)).alias("gy"),
        )
        _noop(geo_udfs.hilbert_key(base, "gx", "gy", res).agg(F.sum("hilbert_d")))

    return n, job


def _snap_run(spark, n, path):
    from pda_spark.operators import spatial_join

    # the q136 river-segment dimension (nation keys 0..24, 4 arms each)
    segs_rows = []
    for k in range(25):
        ax = ((k * 19) % 3600) / 100.0 - 19.0
        ay = ((k * 23) % 2000) / 100.0 + 38.0
        w = (k % 5) / 10.0 + 0.4
        h = ((k * 3) % 7) / 10.0 - 0.35
        arms = [(ax, ay, ax + w, ay), (ax + w, ay, ax + w, ay + h),
                (ax + w, ay + h, ax + 2 * w, ay + h), (ax + 2 * w, ay + h, ax + 3 * w, ay + 2 * h)]
        for seg, (x0, y0, x1, y1) in enumerate(arms):
            segs_rows.append((k, seg, x0, y0, x1, y1))
    segs = spark.createDataFrame(
        segs_rows, "river_id int, seg int, x0 double, y0 double, x1 double, y1 double"
    )
    width = 4 * _cores(spark)

    def job(warm):
        pts = spark.range(n // 50 if warm else n, numPartitions=width).select(
            F.col("id").alias("point_id"),
            (F.pmod(F.col("id") * 2654435761, F.lit(4000)) / 100.0 - 20.0).alias("lon"),
            (F.pmod(F.col("id") * 40503 + 7919, F.lit(2500)) / 100.0 + 36.0).alias("lat"),
        )
        _noop(spatial_join.snap_to_segments(
            pts, segs, radius=0.5, res=6,
            seg_id_cols=("river_id", "seg"), seg_cols=("x0", "y0", "x1", "y1"),
        ))

    return n, job


def _cc_run(spark, n, path):
    from pda_spark.functions.graph import connected_components

    width = 4 * _cores(spark)

    def job(warm):
        base = spark.range(n // 50 if warm else n, numPartitions=width)
        chain = base.filter(F.pmod("id", F.lit(64)) != 63).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
        )
        shortcut = base.filter(F.pmod("id", F.lit(64)) < 32).select(
            F.col("id").alias("src"), (F.col("id") + 32).alias("dst")
        )
        _noop(connected_components(chain.unionAll(shortcut)))

    return n, job


LEGS: dict[str, Leg] = {
    # point-in-polygon join via the int64 cell index: JVM-side cell
    # assignment + bbox prefilter, exact ray-cast refine as the single Arrow
    # stage. >=100M points amortize the ~1.5-2 s per-action fixed cost
    # (at 32M the same levels measure ~0.72).
    "pip": Leg(
        out="scaling.json",
        job="PIP spatial join (cell index + JVM bbox prefilter + Arrow ray-cast refine) over materialized parquet points",
        rows=128_000_000, levels="1x2,1x8", reps=2, alternations=2, mem_mb=12288,
        row_key="n_points", tput_key="throughput_mps", tput_scale=1e6,
        run=_pip_run, gen=_points_gen, input="points", conf=ARROW_BATCHED,
    ),
    # points enter as WKB ONLY (no lonlat_cols fast path): the general
    # decode leg, one single-evaluation struct UDF, is the measured stage.
    # Arrow-dominated, so 1x1 -> 1x4 (1x2 -> 1x8 measured 0.65-0.70).
    "wkb": Leg(
        out="scaling_wkb.json",
        job="PIP spatial join, WKB-input decode leg (single-eval struct UDF + bbox prefilter + Arrow refine) over materialized parquet points",
        rows=64_000_000, levels="1x1,1x4", reps=3, alternations=3, mem_mb=12288,
        row_key="n_points", tput_key="throughput_mps", tput_scale=1e6,
        run=lambda spark, n, path: _pip_run(spark, n, path, wkb_input=True),
        gen=_points_gen, input="points", conf=ARROW_BATCHED,
    ),
    # irregular 5-9-gon footprints x irregular land cover: the general staged
    # refine (kernels.polys_intersect_batch), no rectangle fast path applies.
    "irregular": Leg(
        out="scaling_irregular.json",
        job="irregular-polygon intersects join (general staged refine, kernels.polys_intersect_batch) of materialized parquet footprints x 2,400 land-cover polygons",
        rows=2_000_000, levels="1x2,1x8", reps=2, alternations=2, mem_mb=12288,
        row_key="n_footprints", tput_key="throughput_kfps", tput_scale=1e3,
        run=_irregular_run, gen=_irregular_gen, input="irregular", conf=ARROW_BATCHED,
    ),
    # the webtext side: per-doc shingling (all JVM codegen, zero Python)
    # feeding the shingle-frequency aggregate that near-dup dedup and
    # decontamination start with.
    "text": Leg(
        out="scaling_text.json",
        job="web-corpus shingle pipeline (normalize + k-gram + md5 fold, JVM codegen) -> shingle document-frequency aggregate over materialized parquet docs",
        rows=100_000, levels="1x2,1x8", reps=3, alternations=2, mem_mb=12288,
        row_key="n_docs", tput_key="throughput_kdocs", tput_scale=1e3,
        run=_text_run, gen=_docs_gen, input="docs",
        conf={"spark.sql.optimizer.excludedRules":
              "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"},
    ),
    # erosion runs the generic capsule-union scanline path on every row
    # (~15 ms/geom, the convex fast path never applies): the purest
    # Python-kernel leg, one Arrow stage, no shuffle.
    "buffer": Leg(
        out="scaling_buffer.json",
        job="negative-buffer (erosion) area via the capsule-union scanline kernel, one Arrow UDF stage over materialized WKB polygons (1/4 with holes)",
        rows=2400, levels="1x1,1x4", reps=2, alternations=3, mem_mb=8192,
        row_key="n_polys", tput_key="throughput_gps", tput_scale=1.0,
        run=_buffer_run, gen=_polys_gen, input="polys", conf=ARROW,
    ),
    # the q98/q101 shape: real PPM/BMP decode + block-mean pool in ONE
    # fused mapInPandas stage; an Arrow leg, so 1x1 -> 1x4.
    "media": Leg(
        out="scaling_media.json",
        job="image decode (PPM/BMP dependency-free codec) + 4x4 block-mean pool, one fused mapInPandas stage over materialized encoded payloads (the q98/q101 family)",
        rows=24_000, levels="1x1,1x4", reps=3, alternations=3, mem_mb=12288,
        row_key="n_images", tput_key="throughput_kimg", tput_scale=1e3,
        run=_media_run, gen=_media_gen, input="media", conf=ARROW,
    ),
    # pure per-core expression throughput (q111): codegen bit arithmetic,
    # no Python, no shuffle. 1x8 measured 0.74 from JVM service threads
    # on top of 8 task threads, so 1x1 -> 1x4.
    "hilbert": Leg(
        out="scaling_hilbert.json",
        job="Hilbert layout key res 12 (q111 shape): whole-stage-codegen bit arithmetic over spark.range, zero Python, zero data shuffle",
        rows=400_000_000, levels="1x1,1x4", reps=2, alternations=3, mem_mb=8192,
        row_key="n_rows", tput_key="throughput_mrows_s", tput_scale=1e6,
        run=_hilbert_run,
    ),
    # broadcast join + partial-aggregate scaling (q136). 96M rows keep the
    # lo level >= 25 s; 48M at 1x2 -> 1x8 measured a misleading 0.50.
    "snap": Leg(
        out="scaling_snap.json",
        job="nearest-segment snap join (q136 shape): broadcast 100-segment dim, cell-blocked candidates, clamped-projection distance, struct-min argmin; whole-stage codegen, one shuffle",
        rows=96_000_000, levels="1x1,1x4", reps=2, alternations=3, mem_mb=8192,
        row_key="n_rows", tput_key="throughput_mrows_s", tput_scale=1e6,
        run=_snap_run,
    ),
    # iterative-shuffle scaling (q51/q124): chains of 64 survive the
    # contraction pre-pass, so ~6 star rounds do real work; each round's
    # fixed-point probe is the non-scaling term.
    "cc": Leg(
        out="scaling_cc.json",
        job="connected components (q51/q124 CC shape): min-neighbor contraction pre-pass + iterative large/small-star rounds over 64-node chains (~1.5N edges, ~6 rounds)",
        rows=6_000_000, levels="1x1,1x4", reps=2, alternations=2, mem_mb=8192,
        row_key="n_nodes", tput_key="throughput_mrows_s", tput_scale=1e6,
        run=_cc_run,
    ),
}


# --------------------------------------------------------------- harness


def parse_level(text: str) -> tuple[int, int]:
    """``"1x2"`` -> (executors, cores per executor)."""
    try:
        n_exec, cpe = (int(v) for v in text.split("x"))
    except ValueError:
        n_exec = cpe = 0
    if min(n_exec, cpe) < 1:
        raise argparse.ArgumentTypeError(f"a level is EXECxCORES, got {text!r}")
    return n_exec, cpe


def parse_levels(text: str) -> tuple[tuple[int, int], tuple[int, int]]:
    """``"1x2,1x8"`` -> ((1, 2), (1, 8)): the low and the high level."""
    parts = text.split(",")
    if len(parts) != 2:
        raise argparse.ArgumentTypeError(f"--levels wants two levels LO,HI, got {text!r}")
    return parse_level(parts[0]), parse_level(parts[1])


def level_record(leg: Leg, executors: int, cores: int, rows: int, elapsed: float) -> dict:
    return {
        "executors": executors,
        "cores_per_executor": cores,
        leg.row_key: rows,
        "elapsed_sec": round(elapsed, 3),
        leg.tput_key: round(rows / elapsed / leg.tput_scale, 4),
    }


def efficiency(lo: dict, hi: dict) -> float:
    ratio = (hi["executors"] * hi["cores_per_executor"]) / (lo["executors"] * lo["cores_per_executor"])
    return round(lo["elapsed_sec"] / (ratio * hi["elapsed_sec"]), 4)


def build_result(leg: Leg, rows: int, samples: dict) -> dict:
    """The BENCH/scaling*.json document from alternated ``lo``/``hi`` samples."""
    lo = min(samples["lo"], key=lambda r: r["elapsed_sec"])
    hi = min(samples["hi"], key=lambda r: r["elapsed_sec"])
    lo_e, lo_c = lo["executors"], lo["cores_per_executor"]
    hi_e, hi_c = hi["executors"], hi["cores_per_executor"]
    eff = efficiency(lo, hi)
    return {
        "job": leg.job,
        "mode": f"local-cluster executor JVMs: {lo_e}x{lo_c} vs {hi_e}x{hi_c} (total cores {lo_e * lo_c} -> {hi_e * hi_c})",
        leg.row_key: rows,
        "levels": [lo, hi],
        "all_samples": samples,
        "speedup_lo_to_hi": round(lo["elapsed_sec"] / hi["elapsed_sec"], 3),
        "parallelism_ratio": (hi_e * hi_c) / (lo_e * lo_c),
        "scaling_efficiency": eff,
        "target": TARGET,
        "pass": eff >= TARGET,
    }


def input_dir(leg: Leg, rows: int) -> str | None:
    if leg.gen is None:
        return None
    return os.path.join(tempfile.gettempdir(), f"pda_scaling_{leg.input}_{rows}")


def _level_session(name: str, leg: Leg, n_exec: int, cpe: int):
    from pyspark.sql import SparkSession

    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = REPO + os.pathsep + pp if pp else REPO
    b = (
        SparkSession.builder.master(f"local-cluster[{n_exec},{cpe},{leg.mem_mb}]")
        .appName(f"pda-scaling-{name}-{n_exec}x{cpe}")
        .config("spark.executor.memory", f"{leg.mem_mb - 2048}m")
        .config("spark.sql.shuffle.partitions", str(2 * n_exec * cpe))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.ui.enabled", "false")
    )
    for k, v in leg.conf.items():
        b = b.config(k, v)
    return b.getOrCreate()


def _child(name: str, rows: int, reps: int, what: str) -> None:
    """One fresh process: write the input (``gen``) or measure one level."""
    leg = LEGS[name]
    path = input_dir(leg, rows)
    if what == "gen":
        from pda_spark.session import get_spark

        spark = get_spark(f"pda-scaling-{leg.input}-gen")
        spark.sparkContext.setLogLevel("ERROR")
        partial = path + ".partial"
        shutil.rmtree(partial, ignore_errors=True)
        leg.gen(spark, rows, partial)
        os.rename(partial, path)
        print(json.dumps({"generated": path}))
    else:
        n_exec, cpe = parse_level(what)
        spark = _level_session(name, leg, n_exec, cpe)
        spark.sparkContext.setLogLevel("ERROR")
        n, job = leg.run(spark, rows, path)
        job(True)  # warm-up
        elapsed = None
        for _rep in range(reps):
            t0 = time.time()
            job(False)
            dt = time.time() - t0
            elapsed = dt if elapsed is None else min(elapsed, dt)
        print(json.dumps(level_record(leg, n_exec, cpe, n, elapsed)))
    spark.stop()


def _spawn(name: str, rows: int, reps: int, what: str) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), name,
           "--rows", str(rows), "--reps", str(reps), "--child", what]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=TIMEOUT_S)
    for line in reversed(out.stdout.splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"no result from {name} {what}:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("leg", choices=sorted(LEGS))
    ap.add_argument("--rows", type=int, help="input rows (default: the leg's recorded run)")
    ap.add_argument("--levels", type=parse_levels, help="EXECxCORES,EXECxCORES (low,high)")
    ap.add_argument("--reps", type=int, help="timed runs per level process; the minimum is kept")
    ap.add_argument("--alternations", type=int, help="lo/hi level pairs to run")
    ap.add_argument("--child", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    leg = LEGS[args.leg]
    rows = args.rows or leg.rows
    reps = args.reps or leg.reps
    if args.child:
        _child(args.leg, rows, reps, args.child)
        return
    levels = args.levels or parse_levels(leg.levels)
    path = input_dir(leg, rows)
    if path is not None and not os.path.isdir(path):
        _spawn(args.leg, rows, reps, "gen")
    samples = {"lo": [], "hi": []}
    for _ in range(args.alternations or leg.alternations):
        for key, (n_exec, cpe) in zip(("lo", "hi"), levels):
            samples[key].append(_spawn(args.leg, rows, reps, f"{n_exec}x{cpe}"))
    result = build_result(leg, rows, samples)
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", leg.out), "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    main()

"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of ``(seed, sizes)`` and uses only
numpy and the standard library, so the engine under test receives
inputs it had no hand in making. Geometry is encoded as little-endian
WKB by the small encoder below, not by ``pda_spark.geo``.

All coordinates are lon/lat degrees over Europe (lon -10..30, lat
40..62). Point-like tables keep the 20% hot cluster near Berlin that
``pda_spark.sources.fixtures.scaled_world`` uses, so cell skew is
realistic.
"""

from __future__ import annotations

import json
import re
import struct
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

LON0, LON1, LAT0, LAT1 = -10.0, 30.0, 40.0, 62.0
HOT_LON, HOT_LAT, HOT_SD_LON, HOT_SD_LAT, HOT_SHARE = 13.4, 52.5, 0.5, 0.3, 0.2


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream...) so adding a table
    never shifts the draws of another."""
    return np.random.default_rng([int(v) & 0xFFFFFFFF for v in (seed, *stream)])


# ------------------------------------------------------------------ WKB


def wkb_point(lon: float, lat: float) -> bytes:
    return struct.pack("<BIdd", 1, 1, float(lon), float(lat))


def wkb_polygon(ring: np.ndarray) -> bytes:
    """Single-ring polygon; ``ring`` is (n, 2) and closed."""
    ring = np.ascontiguousarray(ring, dtype="<f8")
    return struct.pack("<BIII", 1, 3, 1, len(ring)) + ring.tobytes()


# ------------------------------------------------------- point samples


def lonlat_sample(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    lon = rng.uniform(LON0, LON1, n)
    lat = rng.uniform(LAT0, LAT1, n)
    hot = rng.random(n) < HOT_SHARE
    lon[hot] = HOT_LON + rng.normal(0, HOT_SD_LON, hot.sum())
    lat[hot] = HOT_LAT + rng.normal(0, HOT_SD_LAT, hot.sum())
    return lon, lat


# --------------------------------------------------------- spatial_join


@dataclass
class PolygonSet:
    """One land-cover set: ``rings[i]`` is polygon ``poly_id[i]``'s
    closed outer ring."""

    poly_id: np.ndarray
    rings: list[np.ndarray]

    def frame(self) -> pd.DataFrame:
        classes = np.array(["Urban area", "River", "Lake", "Forest"])
        return pd.DataFrame(
            {
                "poly_id": self.poly_id.astype(np.int64),
                "cls": classes[self.poly_id % 4],
                "geom": [wkb_polygon(r) for r in self.rings],
            }
        )


def land_cover(seed: int, set_no: int, n: int) -> PolygonSet:
    """~2/3 irregular 5-9-gons (star-shaped around their centre, hence
    simple) and ~1/3 axis-aligned rectangles, sized like
    ``scaled_world``'s land cover (half extent 0.2-0.5 deg) and spread
    uniformly, so only the point side carries the hot cluster."""
    rng = rng_for(seed, 1, set_no)
    cx, cy = rng.uniform(LON0, LON1, n), rng.uniform(LAT0, LAT1, n)
    half = rng.uniform(0.2, 0.5, n)
    is_rect = rng.random(n) < 1.0 / 3.0
    rings = []
    for i in range(n):
        if is_rect[i]:
            hx, hy = half[i], half[i] * rng.uniform(0.5, 1.0)
            ring = np.array(
                [
                    (cx[i] - hx, cy[i] - hy),
                    (cx[i] + hx, cy[i] - hy),
                    (cx[i] + hx, cy[i] + hy),
                    (cx[i] - hx, cy[i] + hy),
                ]
            )
        else:
            k = int(rng.integers(5, 10))
            ang = np.sort(rng.uniform(0.0, 2.0 * np.pi, k))
            rad = half[i] * rng.uniform(0.4, 1.0, k)
            ring = np.column_stack([cx[i] + rad * np.cos(ang), cy[i] + rad * np.sin(ang)])
        rings.append(np.vstack([ring, ring[:1]]))
    return PolygonSet(np.arange(n, dtype=np.int64) + set_no * 1_000_000, rings)


def point_table(seed: int, n: int) -> pd.DataFrame:
    rng = rng_for(seed, 2)
    lon, lat = lonlat_sample(rng, n)
    return pd.DataFrame({"pid": np.arange(n, dtype=np.int64), "lon": lon, "lat": lat})


def footprints(seed: int, n: int) -> tuple[pd.DataFrame, np.ndarray]:
    """Image footprints: axis-aligned quads of half extent 0.05-0.15 deg
    (the ``scaled_world`` sat_images shape). Returns the table and the
    (n, 4) bbox array [minx, miny, maxx, maxy]."""
    rng = rng_for(seed, 3)
    lon, lat = lonlat_sample(rng, n)
    half = rng.uniform(0.05, 0.15, n)
    bb = np.column_stack([lon - half, lat - half, lon + half, lat + half])
    geoms = [
        wkb_polygon(
            np.array(
                [(b[0], b[1]), (b[2], b[1]), (b[2], b[3]), (b[0], b[3]), (b[0], b[1])]
            )
        )
        for b in bb
    ]
    return pd.DataFrame({"fid": np.arange(n, dtype=np.int64), "geom": geoms}), bb


# ------------------------------------------------------------- hotspots


def hotspot_sample(seed: int, sample_no: int, n: int, eps: float) -> pd.DataFrame:
    """DBSCAN input: eight Gaussian blobs plus 10% uniform noise in a
    4 x 3 deg box, with shuffled ids so cluster ids (minimum core id)
    are not simply the first points drawn. Blob centres sit on a
    jittered row of longitudes 9.25, 9.75, ..., 12.75, so every seed
    puts the same number of centroids into each density zone of
    ``knn_targets`` and the kNN guard widens for the same share."""
    rng = rng_for(seed, 4, sample_no)
    n_noise = n // 10
    n_blobs = 8
    sizes = np.full(n_blobs, (n - n_noise) // n_blobs)
    sizes[: (n - n_noise) % n_blobs] += 1
    cx = 9.25 + 0.5 * np.arange(n_blobs) + rng.uniform(-0.05, 0.05, n_blobs)
    cy = rng.uniform(48.5, 50.5, n_blobs)
    sd = rng.uniform(1.0, 2.0, n_blobs) * eps
    xs = [rng.normal(cx[b], sd[b], sizes[b]) for b in range(n_blobs)]
    ys = [rng.normal(cy[b], sd[b], sizes[b]) for b in range(n_blobs)]
    xs.append(rng.uniform(9.0, 13.0, n_noise))
    ys.append(rng.uniform(48.0, 51.0, n_noise))
    ids = rng.permutation(n).astype(np.int64) * 7 + 3
    return pd.DataFrame({"id": ids, "x": np.concatenate(xs), "y": np.concatenate(ys)})


def knn_targets(seed: int, n: int) -> pd.DataFrame:
    """Sparse target table over the hotspot box: dense in its west
    half, absent from a central band, thin in the east, so that
    centroids in the band or the east need the kNN guard to widen the
    ring."""
    rng = rng_for(seed, 5)
    n_west = int(n * 0.8)
    lon = np.concatenate([rng.uniform(8.5, 10.6, n_west), rng.uniform(11.6, 13.5, n - n_west)])
    lat = rng.uniform(47.5, 51.5, n)
    return pd.DataFrame({"tid": rng.permutation(n).astype(np.int64), "tlon": lon, "tlat": lat})


# ------------------------------------------------------------ web_ingest

_WORDS = (
    "satellite imagery footprint acquisition orbit sensor analytic scene cloud "
    "radiance swath nadir pass polygon coverage mosaic tile raster vector europe "
    "berlin river urban forest lake crawl archive page"
).split()
_SATS = [("s145", "planetscope", 3.15), ("s201", "skysat", 0.72), ("s300", "esa", 10.0)]
_T0 = datetime(2022, 1, 1)
_TAGS = re.compile(r"<script\b.*?</script>|<style\b.*?</style>|<[^>]+>", re.S | re.I)


def page_text(html: str) -> str:
    """The stored ``text`` column: visible text with tags and
    script/style blocks removed and whitespace collapsed."""
    return " ".join(_TAGS.sub(" ", html).split())


def web_corpus(seed: int, n: int, footprint_share: float = 0.9) -> pd.DataFrame:
    """Common-Crawl-shaped pages ``(url, warc_ts, html, text, lang)``.
    A ``footprint_share`` of them embed a GeoJSON footprint block (the
    ingest turns those into ``sat_images`` rows); the rest are plain
    prose pages."""
    rng = rng_for(seed, 6)
    lon, lat = lonlat_sample(rng, n)
    half = rng.uniform(0.05, 0.15, n)
    has_fp = rng.random(n) < footprint_share
    sat = rng.integers(0, len(_SATS), n)
    n_words = rng.integers(40, 160, n)
    words = rng.integers(0, len(_WORDS), int(n_words.sum()))
    wstart = np.concatenate([[0], np.cumsum(n_words)])
    ts = rng.integers(0, 365 * 24 * 3600, n)
    acq = rng.integers(0, 525600, n)
    cloud = np.round(rng.uniform(0, 1, n), 4)
    clear = np.round(rng.uniform(50, 100, n), 2)
    langs = np.array(["en", "de", "fr", "nl", "es"])[rng.integers(0, 5, n)]
    rows = []
    for i in range(n):
        prose = " ".join(_WORDS[w] for w in words[wstart[i] : wstart[i + 1]])
        block = ""
        if has_fp[i]:
            x0, y0, x1, y1 = lon[i] - half[i], lat[i] - half[i], lon[i] + half[i], lat[i] + half[i]
            s = _SATS[sat[i]]
            feature = {
                "type": "Feature",
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]],
                },
                "properties": {
                    "id": f"img{seed % 100000:05d}{i:08d}",
                    "cloud_cover": float(cloud[i]),
                    "clear_confidence_percent": float(clear[i]),
                    "satellite_id": s[0],
                    "provider": s[1],
                    "pixel_resolution": s[2],
                    "item_type": "PSScene",
                    "acquired": (_T0 + timedelta(minutes=int(acq[i]))).strftime("%Y-%m-%dT%H:%M:%S"),
                },
            }
            block = f'<script type="application/geo+json">{json.dumps(feature, separators=(",", ":"))}</script>'
        html = (
            f"<html><head><title>Page {i}</title><style>p{{margin:0}}</style></head>"
            f"<body><h1>Scene archive {i}</h1><p>{prose}</p>{block}"
            f"<p>Located at {lat[i]:.6f}, {lon[i]:.6f}.</p></body></html>"
        )
        rows.append(
            (
                f"https://crawl.example.org/p/{i:08d}",
                _T0 + timedelta(seconds=int(ts[i])),
                html.encode("utf-8"),
                page_text(html),
                str(langs[i]),
            )
        )
    return pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

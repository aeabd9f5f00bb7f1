"""Expected answers computed without any Spark operator.

Each workload's job output is compared against one of these. They are
written from the definitions (even-odd ray casting, brute-force nearest
neighbours, the single-node warp + checksum) rather than by calling the
engine's distributed operators, so a defect in a Spark plan cannot hide
behind an oracle that shares it.
"""

from __future__ import annotations

import math

import numpy as np

ORIGIN = 20037508.342789244  # EPSG:3857 half world span (metres)


def lonlat_to_mercator(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Spherical mercator, EPSG:4326 degrees to EPSG:3857 metres."""
    x = lon * (ORIGIN / 180.0)
    y = np.log(np.tan((90.0 + lat) * (math.pi / 360.0))) / math.pi * ORIGIN
    return x, y


def mercator_to_lonlat(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    lon = x * (180.0 / ORIGIN)
    lat = np.degrees(2.0 * np.arctan(np.exp(y / ORIGIN * math.pi))) - 90.0
    return lon, lat


_M64 = (1 << 64) - 1


def _splitmix64(i: np.ndarray, seed: int) -> np.ndarray:
    """splitmix64 finalizer on int64 ids, as signed int64 (the pages
    synthesis rule of FIXTURES.md section 1, seed folded in first)."""
    with np.errstate(over="ignore"):
        z = (i.astype(np.uint64) + np.uint64(seed)) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return z.view(np.int64)


def synth_pages_lonlat(ids: np.ndarray, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    """(lon, lat) that the synthesized page ``ids`` carry in their geotag:
    whole micro-degrees, so the six-decimal html text parses back to the
    same double as ``micro / 1e6``."""
    lon_u = _splitmix64(ids, seed) % 360_000_000
    lat_u = _splitmix64(ids + 1_000_000_007, seed) % 168_000_000
    return (lon_u - 180_000_000) / 1e6, (lat_u - 84_000_000) / 1e6


def in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd rule: a point is inside when a +x ray crosses the ring an
    odd number of times (one pass per edge, vectorised over points)."""
    inside = np.zeros(len(px), dtype=bool)
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        straddles = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_cross = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        inside ^= straddles & (px < x_cross)
    return inside


def raycast_counts(
    lon: np.ndarray, lat: np.ndarray, polygons: list[tuple[int, list[np.ndarray]]]
) -> dict[int, int]:
    """Points per polygon; ``polygons`` holds (id, [exterior, *holes]) in
    mercator metres. Polygons with no point are left out, as a
    group-by count leaves them out."""
    mx, my = lonlat_to_mercator(lon, lat)
    out = {}
    for pid, rings in polygons:
        ext = rings[0]
        box = (
            (mx >= ext[:, 0].min()) & (mx <= ext[:, 0].max())
            & (my >= ext[:, 1].min()) & (my <= ext[:, 1].max())
        )
        bx, by = mx[box], my[box]
        hit = in_ring(bx, by, ext)
        for hole in rings[1:]:
            hit &= ~in_ring(bx, by, hole)
        n = int(hit.sum())
        if n:
            out[int(pid)] = n
    return out


def knn_bruteforce(
    qid: np.ndarray, qx: np.ndarray, qy: np.ndarray,
    nid: np.ndarray, nx: np.ndarray, ny: np.ndarray, k: int,
) -> dict[int, list[int]]:
    """The k nearest neighbour ids of every query, nearest first, ties
    broken by the smaller id. Squared distances use the same
    (dx*dx + dy*dy) operation order as a SQL engine, so equal distances
    compare equal."""
    order = np.argsort(nid, kind="stable")
    nid, nx, ny = nid[order], nx[order], ny[order]
    out = {}
    for i in range(len(qid)):
        dx = qx[i] - nx
        dy = qy[i] - ny
        d2 = dx * dx + dy * dy
        near = np.argpartition(d2, k - 1)[:k] if k < len(d2) else np.arange(len(d2))
        # every neighbour tied with the k-th distance competes on id
        kth = d2[near].max()
        cand = np.nonzero(d2 <= kth)[0]
        cand = cand[np.lexsort((nid[cand], d2[cand]))][:k]
        out[int(qid[i])] = [int(v) for v in nid[cand]]
    return out


def warp_checksums(src: np.ndarray, src_meta, dst_meta, src_crs, dst_crs, algs) -> dict[str, int]:
    """GDAL checksum of the single-node warp for each resampling kernel."""
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.warp import warp_crs_np

    return {
        alg: checksum_np(warp_crs_np(src, src_meta, dst_meta, src_crs, dst_crs, alg=alg))
        for alg in algs
    }

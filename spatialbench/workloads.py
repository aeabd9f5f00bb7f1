"""The benchmark's workloads.

Each workload makes its inputs from the seed with NumPy, computes the
expected answer with :mod:`spatialbench.oracles` before Spark starts,
stages the inputs, and then runs one job per loop iteration through the
engine's public functions only. ``probe`` is the traced run's per-layer
pass: it times the benchmark's own calls into each layer on a
materialised input and reads the SQL metrics of the final plan.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from spatialbench import oracles
from spatialbench.trace import job_group, metric_sum, plan_metrics, python_times_s, shuffle_bytes

# every per-layer metric with its unit; a layer a workload does not call
# reports zero
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.python_workers_started": "count",
    "pages.scan_busy_s": "s",
    "pages.geotag_busy_s": "s",
    "pages.rows_in": "count",
    "pages.geotag_yield": "ratio",
    "pages.synth_busy_s": "s",
    "tiling.assign_busy_s": "s",
    "spatial_join.busy_s": "s",
    "spatial_join.cover_build_s": "s",
    "spatial_join.broadcast_bytes": "bytes",
    "spatial_join.broadcast_build_s": "s",
    "spatial_join.candidates": "count",
    "spatial_join.refine_rows": "count",
    "spatial_join.refine_share": "ratio",
    "spatial_join.hits": "count",
    "spatial_join.refine_yield": "ratio",
    "spatial_join.python_boot_s": "s",
    "spatial_join.python_init_s": "s",
    "spatial_join.python_exec_s": "s",
    "spatial_join.arrow_bytes_sent": "bytes",
    "spatial_join.shuffle_bytes": "bytes",
    "geometry.contains_ns_per_pt": "ns",
    "checkpoint.busy_s": "s",
    "checkpoint.spark_jobs": "count",
    "checkpoint.rows_written": "count",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.files_written": "count",
    "checkpoint.bytes_per_input_byte": "ratio",
    "lineage.busy_s": "s",
    "lineage.rows_hashed": "count",
    "lineage.passes": "count",
    "knn.busy_s": "s",
    "knn.spark_jobs": "count",
    "knn.candidate_pairs": "count",
    "knn.useful_ratio": "ratio",
    "knn.shuffle_bytes": "bytes",
    "raster.warp_near_busy_s": "s",
    "raster.warp_cubic_busy_s": "s",
    "raster.gather_rows": "count",
    "raster.gather_ratio": "ratio",
    "raster.shuffle_bytes": "bytes",
    "raster.python_exec_s": "s",
    "raster.checksum_busy_s": "s",
    "trace.overhead_ratio": "ratio",
}

PIP_ZOOM = 6  # cover zoom of the flagship count (bench.py, run_pipeline.py)
TILE_ZOOM = 12


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_stats(root: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``root``."""
    size = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


def _materialise(df):
    df = df.persist()
    df.count()
    return df


def _polygons():
    from gdal_spark.fixtures import fixture_polygons

    ids, rings = fixture_polygons()
    return list(zip(ids, rings))


def _refine_pairs(lon, lat, polyset):
    """(mx, my, poly_idx) of every point that lands in a partial (boundary)
    cover tile of a polygon: the pairs the exact refine ray-casts."""
    mx, my = oracles.lonlat_to_mercator(lon, lat)
    n = 1 << PIP_ZOOM
    span = 2 * oracles.ORIGIN / n
    tx = np.clip(np.floor((mx + oracles.ORIGIN) / span + 1e-3), 0, n - 1).astype(np.int64)
    ty = np.clip(np.floor((oracles.ORIGIN - my) / span + 1e-3), 0, n - 1).astype(np.int64)
    pidx, ctx, cty, full = polyset.tile_cover(PIP_ZOOM)
    part = full == 0
    cell = tx * n + ty
    px_, py_, pi_ = [], [], []
    for p, cx, cy in zip(pidx[part], ctx[part], cty[part]):
        m = cell == cx * n + cy
        px_.append(mx[m])
        py_.append(my[m])
        pi_.append(np.full(int(m.sum()), p, dtype=np.int64))
    return np.concatenate(px_), np.concatenate(py_), np.concatenate(pi_)


def _spatial_join_probe(spark, pts, polyset, lon, lat) -> dict:
    """pip_counts on materialised (lon, lat) points, plus the refine's
    share of the candidates and the driver-side ray-cast rate."""
    from gdal_spark.operators.spatial_join import pip_counts

    df = pip_counts(pts, polyset, zoom=PIP_ZOOM)
    rows, busy = _timed(df.collect)
    ops = plan_metrics(df)
    _, cover_s = _timed(lambda: polyset.tile_cover(PIP_ZOOM))
    candidates = metric_sum(ops, "numOutputRows", "BroadcastHashJoin")
    hits = sum(r["n_points"] for r in rows)
    py = python_times_s(ops, "ArrowEvalPython")
    rx, ry, ri = _refine_pairs(lon, lat, polyset)
    inside, contains_s = _timed(lambda: polyset.contains(rx, ry, ri))
    refine_hits = int(inside.sum())
    return {
        "spatial_join.busy_s": busy,
        "spatial_join.cover_build_s": cover_s,
        "spatial_join.broadcast_bytes": metric_sum(ops, "dataSize", "BroadcastExchange"),
        "spatial_join.broadcast_build_s": metric_sum(ops, "buildTime", "BroadcastExchange") / 1e3,
        "spatial_join.candidates": candidates,
        "spatial_join.refine_rows": len(rx),
        "spatial_join.refine_share": len(rx) / max(candidates, 1),
        "spatial_join.hits": hits,
        "spatial_join.refine_yield": refine_hits / max(len(rx), 1),
        "spatial_join.python_boot_s": py["boot"],
        "spatial_join.python_init_s": py["init"],
        "spatial_join.python_exec_s": py["exec"],
        "spatial_join.arrow_bytes_sent": metric_sum(ops, "pythonDataSent", "ArrowEvalPython"),
        "spatial_join.shuffle_bytes": shuffle_bytes(ops),
        "geometry.contains_ns_per_pt": contains_s * 1e9 / max(len(rx), 1),
    }


def _pages_probe(spark, pages, n_rows: int) -> tuple[dict, object]:
    """extract_geotags and assign_tiles each timed on a materialised input.
    Returns the metrics and the materialised (lon, lat) points."""
    from pyspark.sql import functions as F

    from gdal_spark.operators.spatial_join import assign_tiles
    from gdal_spark.pages import extract_geotags

    html = _materialise(pages.select("html"))
    _, geotag_s = _timed(lambda: _noop(extract_geotags(html).select("lat", "lon")))
    pts = _materialise(extract_geotags(html).select("lon", "lat").filter(F.col("lat").isNotNull()))
    html.unpersist()
    n_tagged = pts.count()
    _, assign_s = _timed(lambda: _noop(assign_tiles(pts, zoom=TILE_ZOOM)))
    return {
        "pages.geotag_busy_s": geotag_s,
        "pages.rows_in": n_rows,
        "pages.geotag_yield": n_tagged / n_rows,
        "tiling.assign_busy_s": assign_s,
    }, pts


class Workload:
    name = ""
    unit = ""  # what one unit of throughput is
    sizes: dict = {}

    def __init__(self, seed: int, cores: int):
        self.seed = seed
        self.cores = cores
        self.expected = None

    def stage(self, spark, root: str) -> None:
        """Write or cache the inputs the timed jobs read."""

    def job(self, spark, tr, jobdir: str, scale: float = 1.0):
        """One job. The warm-up passes ``scale`` < 1, and a workload may then
        run on that share of its input; that output is not checked."""
        raise NotImplementedError

    def check(self, out) -> bool:
        return out == self.expected

    def units_per_job(self) -> float:
        raise NotImplementedError

    def probe(self, spark, root: str) -> dict:
        raise NotImplementedError


class FlagshipScan(Workload):
    """pages staged once as parquet -> extract_geotags -> assign_tiles ->
    pip_counts against the fixture polygons."""

    name = "flagship_scan"
    unit = "pages"
    sizes = {"pages": 2_000_000, "files": 16, "boundary_share": 0.30,
             "interior_share": 0.10, "untagged_share": 0.05}

    def __init__(self, seed, cores):
        super().__init__(seed, cores)
        from gdal_spark.fixtures import fixture_polyset

        self.polyset = fixture_polyset()
        self.lon_u, self.lat_u, self.tagged = self._points(np.random.default_rng(seed))
        self.lon, self.lat = self.lon_u / 1e6, self.lat_u / 1e6
        self.expected = oracles.raycast_counts(
            self.lon[self.tagged], self.lat[self.tagged], _polygons()
        )

    def _points(self, rng):
        """Whole micro-degree points: a seeded share inside boundary cover tiles
        (the refine's work), some inside interior tiles, the rest uniform;
        a share of pages carries no geotag at all."""
        s = self.sizes
        n = s["pages"]
        _, ctx, cty, full = self.polyset.tile_cover(PIP_ZOOM)
        span = 2 * oracles.ORIGIN / (1 << PIP_ZOOM)
        kind = rng.random(n)
        boundary = kind < s["boundary_share"]
        interior = ~boundary & (kind < s["boundary_share"] + s["interior_share"])
        lon = rng.uniform(-180.0, 180.0, n)
        lat = rng.uniform(-84.0, 84.0, n)
        for sel, tiles in ((boundary, full == 0), (interior, full == 1)):
            count = int(sel.sum())
            pick = rng.integers(0, int(tiles.sum()), count)
            tx, ty = ctx[tiles][pick], cty[tiles][pick]
            mx = -oracles.ORIGIN + (tx + rng.random(count)) * span
            my = oracles.ORIGIN - (ty + rng.random(count)) * span
            lon[sel], lat[sel] = oracles.mercator_to_lonlat(mx, my)
        tagged = rng.random(n) >= s["untagged_share"]
        return np.round(lon * 1e6).astype(np.int64), np.round(lat * 1e6).astype(np.int64), tagged

    def _table(self, lo: int, hi: int) -> pa.Table:
        def dec(v):  # whole micro-degrees as exact six-decimal text
            sign = pa.array(np.where(v < 0, "-", ""))
            a = np.abs(v)
            frac = pc.utf8_lpad(pc.cast(pa.array(a % 1_000_000), pa.string()), 6, "0")
            return pc.binary_join_element_wise(
                sign, pc.cast(pa.array(a // 1_000_000), pa.string()), ".", frac, ""
            )

        i = np.arange(lo, hi, dtype=np.int64)
        i_s = pc.cast(pa.array(i), pa.string())
        site = pc.cast(pa.array(i % 10007), pa.string())
        token = pc.binary_join_element_wise(
            "token", pc.cast(pa.array((i * 7919) % 997), pa.string()), " data web crawl text ", ""
        )
        text = pc.binary_join_element_wise(
            "Page ", i_s, " from site ", site, ". ",
            pc.binary_repeat(token, pa.array(i % 8 + 1)), "",
        )
        geo = pc.binary_join_element_wise(
            '<meta name="geo.position" content="', dec(self.lat_u[lo:hi]), ";",
            dec(self.lon_u[lo:hi]), '"/>', "",
        )
        geo = pc.if_else(pa.array(self.tagged[lo:hi]), geo, "")
        html = pc.binary_join_element_wise(
            "<html><head>", geo, "<title>p", i_s, "</title></head><body>", text,
            "</body></html>", "",
        )
        url = pc.binary_join_element_wise("https://site", site, ".example/p/", i_s, "")
        return pa.table({"url": url, "html": pc.cast(html, pa.binary()), "text": text})

    def stage(self, spark, root):
        self.path = os.path.join(root, "pages")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        n, files = self.sizes["pages"], self.sizes["files"]

        def write(f):
            lo, hi = n * f // files, n * (f + 1) // files
            pq.write_table(self._table(lo, hi), os.path.join(self.path, f"part-{f:03d}.parquet"))

        # Arrow's kernels and the parquet writer release the GIL
        with ThreadPoolExecutor(self.cores) as pool:
            list(pool.map(write, range(files)))

    def job(self, spark, tr, jobdir, scale=1.0):
        from gdal_spark.operators.spatial_join import assign_tiles, pip_counts
        from gdal_spark.pages import extract_geotags

        files = sorted(os.listdir(self.path))
        files = [os.path.join(self.path, f) for f in files[: max(1, int(len(files) * scale))]]
        pts = extract_geotags(spark.read.parquet(*files)).select("lon", "lat")
        counts = pip_counts(assign_tiles(pts, zoom=TILE_ZOOM), self.polyset, zoom=PIP_ZOOM)
        with tr.span("spatial_join"):
            rows = tr.collect(counts, "spatial_join")
        return {int(r["poly_id"]): int(r["n_points"]) for r in rows}

    def units_per_job(self):
        return self.sizes["pages"]

    def probe(self, spark, root):
        pages = spark.read.parquet(self.path)
        _, scan_s = _timed(lambda: _noop(pages.select("html")))
        m, pts = _pages_probe(spark, pages, self.sizes["pages"])
        m["pages.scan_busy_s"] = scan_s
        m.update(_spatial_join_probe(
            spark, pts, self.polyset, self.lon[self.tagged], self.lat[self.tagged]
        ))
        pts.unpersist()
        return m


class PipelineCommit(Workload):
    """The run_pipeline.py job as library calls: synthesize uniform pages,
    fingerprint, geotag, tile, sharded commit to a fresh directory,
    fingerprint the read-back, count points per polygon."""

    name = "pipeline_commit"
    unit = "pages"
    sizes = {"pages": 200_000, "shards": 4}

    def __init__(self, seed, cores):
        super().__init__(seed, cores)
        from gdal_spark.fixtures import fixture_polyset

        self.polyset = fixture_polyset()
        n = self.sizes["pages"]
        # the seed picks which id range is synthesized
        self.base = seed % 10**9 * n
        self.lon, self.lat = oracles.synth_pages_lonlat(
            np.arange(self.base, self.base + n, dtype=np.int64)
        )
        self.expected = {
            "counts": oracles.raycast_counts(self.lon, self.lat, _polygons()),
            "rows": n,
            "shards_ran": self.sizes["shards"],
            "lineage_ok": True,
        }

    def _pages(self, spark, scale=1.0):
        from pyspark.sql import functions as F

        from gdal_spark.pages import pages_columns

        n = int(self.sizes["pages"] * scale)
        return spark.range(self.base, self.base + n, 1, self.cores).select(
            pages_columns(F.col("id"))
        )

    def job(self, spark, tr, jobdir, scale=1.0):
        from gdal_spark.checkpoint import run_sharded
        from gdal_spark.lineage import global_fingerprint
        from gdal_spark.operators.spatial_join import assign_tiles, pip_counts
        from gdal_spark.pages import extract_geotags

        pages = self._pages(spark, scale)
        with tr.span("lineage"):
            before = global_fingerprint(pages)
        tagged = extract_geotags(pages)
        tiled = assign_tiles(tagged, zoom=TILE_ZOOM)
        with tr.span("checkpoint"):
            summary = run_sharded(tiled, jobdir, self.sizes["shards"])
        with tr.span("lineage"):
            after = global_fingerprint(spark.read.parquet(os.path.join(jobdir, "data")))
        counts = pip_counts(tagged.select("lon", "lat"), self.polyset, zoom=PIP_ZOOM)
        with tr.span("spatial_join"):
            rows = tr.collect(counts, "spatial_join")
        return {
            "counts": {int(r["poly_id"]): int(r["n_points"]) for r in rows},
            "rows": summary["rows_written"],
            "shards_ran": summary["ran"],
            "lineage_ok": before == after and before[0] == int(self.sizes["pages"] * scale),
        }

    def units_per_job(self):
        return self.sizes["pages"]

    def probe(self, spark, root):
        from pyspark.sql import functions as F

        from gdal_spark.checkpoint import run_sharded
        from gdal_spark.lineage import global_fingerprint
        from gdal_spark.operators.spatial_join import assign_tiles
        from gdal_spark.pages import extract_geotags

        n = self.sizes["pages"]
        _, synth_s = _timed(lambda: _noop(self._pages(spark)))
        pages = _materialise(self._pages(spark))
        m, pts = _pages_probe(spark, pages, n)
        m.update(_spatial_join_probe(spark, pts, self.polyset, self.lon, self.lat))
        pts.unpersist()
        m["pages.synth_busy_s"] = synth_s

        tiled = _materialise(assign_tiles(extract_geotags(pages), zoom=TILE_ZOOM))
        in_bytes = tiled.select(F.sum(
            F.octet_length("url") + F.octet_length("html") + F.octet_length("text")
            + F.octet_length("lang")
        )).collect()[0][0]
        out = os.path.join(root, "probe-commit")
        shutil.rmtree(out, ignore_errors=True)
        with job_group(spark.sparkContext, "probe-checkpoint") as n_jobs:
            summary, commit_s = _timed(lambda: run_sharded(tiled, out, self.sizes["shards"]))
        size, files = _dir_stats(os.path.join(out, "data"))
        m.update({
            "checkpoint.busy_s": commit_s,
            "checkpoint.spark_jobs": n_jobs(),
            "checkpoint.rows_written": summary["rows_written"],
            "checkpoint.bytes_written": size,
            "checkpoint.files_written": files,
            "checkpoint.bytes_per_input_byte": size / in_bytes,
        })
        t0 = time.perf_counter()
        fps = [global_fingerprint(pages),
               global_fingerprint(spark.read.parquet(os.path.join(out, "data")))]
        m.update({
            "lineage.busy_s": time.perf_counter() - t0,
            "lineage.rows_hashed": sum(fp[0] for fp in fps),
            "lineage.passes": len(fps),
        })
        tiled.unpersist()
        pages.unpersist()
        shutil.rmtree(out, ignore_errors=True)
        return m


class KnnRing(Workload):
    """knn_join of a seeded sample of staged mercator neighbours against
    all of them; a share of the neighbours is clustered."""

    name = "knn_ring"
    unit = "queries"
    sizes = {"neighbours": 100_000, "queries": 2_000, "k": 8, "zoom": 8,
             "cluster_share": 0.10, "cluster_sigma_deg": 3.0}

    def __init__(self, seed, cores):
        super().__init__(seed, cores)
        s = self.sizes
        rng = np.random.default_rng(seed)
        n = s["neighbours"]
        n_c = int(n * s["cluster_share"])
        # uniform in the mercator plane, so every ring holds neighbours on
        # average; the cluster makes cell density vary
        x = rng.uniform(-0.99 * oracles.ORIGIN, 0.99 * oracles.ORIGIN, n)
        y = rng.uniform(-0.8 * oracles.ORIGIN, 0.8 * oracles.ORIGIN, n)
        c_lon, c_lat = rng.uniform(-150, 150), rng.uniform(-50, 50)
        sig = s["cluster_sigma_deg"]
        x[:n_c], y[:n_c] = oracles.lonlat_to_mercator(
            c_lon + sig * rng.standard_normal(n_c),
            np.clip(c_lat + sig * rng.standard_normal(n_c), -80, 80),
        )
        self.nid = rng.permutation(n).astype(np.int64)
        self.x, self.y = x, y
        self.q = np.sort(rng.choice(n, s["queries"], replace=False))
        self.expected = oracles.knn_bruteforce(
            self.nid[self.q], x[self.q], y[self.q], self.nid, x, y, s["k"]
        )

    def stage(self, spark, root):
        path = os.path.join(root, "neighbours")
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        pq.write_table(
            pa.table({"nid": self.nid, "x": self.x, "y": self.y}),
            os.path.join(path, "part-000.parquet"),
        )
        self.nb = spark.read.parquet(path).repartition(self.cores).persist()
        self.nb.count()
        qids = spark.createDataFrame([(int(v),) for v in self.nid[self.q]], "qid LONG")
        self.queries = self.nb.join(qids, self.nb.nid == qids.qid).select(
            "qid", "x", "y"
        ).persist()
        self.queries.count()

    def _knn(self, scale=1.0):
        from gdal_spark.operators.knn import knn_join

        s = self.sizes
        q = self.queries if scale == 1.0 else self.queries.sample(fraction=scale, seed=0)
        return knn_join(q, self.nb, k=s["k"], zoom=s["zoom"])

    def job(self, spark, tr, jobdir, scale=1.0):
        with tr.span("knn"):
            rows = tr.collect(self._knn(scale), "knn")
        out: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
            out.setdefault(int(r["qid"]), []).append(int(r["nid"]))
        return out

    def units_per_job(self):
        return self.sizes["queries"]

    def probe(self, spark, root):
        df = self._knn()
        with job_group(spark.sparkContext, "probe-knn") as n_jobs:
            _, busy = _timed(df.collect)
        ops = plan_metrics(df)
        cand = sum(o["metrics"].get("numOutputRows", 0) for o in ops
                   if o["op"].endswith("Join") and "__ncx" in o["desc"])
        return {
            "knn.busy_s": busy,
            "knn.spark_jobs": n_jobs(),
            "knn.candidate_pairs": cand,
            "knn.useful_ratio": self.sizes["queries"] * self.sizes["k"] / max(cand, 1),
            "knn.shuffle_bytes": shuffle_bytes(ops),
        }


class WarpUtm(Workload):
    """synth_raster uint8 in UTM 11N -> warp_crs to the suggested EPSG:4326
    grid with near and with cubic, each checked by its GDAL checksum."""

    name = "warp_utm"
    unit = "px"
    sizes = {"width": 2048, "height": 2048, "block": 256, "algs": ("near", "cubic")}
    SRC, DST = "EPSG:32611", "EPSG:4326"

    def __init__(self, seed, cores):
        super().__init__(seed, cores)
        from gdal_spark.raster.model import RasterMeta, synth_block_np
        from gdal_spark.raster.warp import suggested_warp_output

        s = self.sizes
        rng = np.random.default_rng(seed)
        # 30 m pixels at a seeded place inside the zone's usual extent
        x0 = float(rng.integers(200_000, 600_000))
        y0 = float(rng.integers(3_500_000, 5_000_000))
        self.meta = RasterMeta(
            width=s["width"], height=s["height"], dtype="uint8",
            block_w=s["block"], block_h=s["block"], gt=(x0, 30.0, 0.0, y0, 0.0, -30.0),
        )
        self.raster_seed = int(rng.integers(0, 2**31))
        self.dst = suggested_warp_output(self.meta, self.SRC, self.DST,
                                         block_w=s["block"], block_h=s["block"])
        src = synth_block_np(0, 0, s["height"], s["width"], self.meta, self.raster_seed)
        self.expected = oracles.warp_checksums(src, self.meta, self.dst, self.SRC, self.DST, s["algs"])

    def stage(self, spark, root):
        from gdal_spark.raster.model import synth_raster

        self.src = synth_raster(spark, self.meta, seed=self.raster_seed).persist()
        self.src.count()

    def _warp(self, alg):
        from gdal_spark.raster.warp import warp_crs

        return warp_crs(self.src, self.meta, self.dst, self.SRC, self.DST, alg=alg)

    def job(self, spark, tr, jobdir, scale=1.0):
        from gdal_spark.raster.checksum import checksum_df

        out = {}
        for alg in self.sizes["algs"]:
            with tr.span("raster"):
                out[alg] = checksum_df(self._warp(alg), self.dst)
        return out

    def units_per_job(self):
        return self.dst.width * self.dst.height * len(self.sizes["algs"])

    def probe(self, spark, root):
        from pyspark.sql import functions as F

        from gdal_spark.raster.checksum import checksum_df

        m = {}
        ops_all = []
        for alg in self.sizes["algs"]:
            df = self._warp(alg).agg(F.count(F.lit(1)))
            _, m[f"raster.warp_{alg}_busy_s"] = _timed(df.collect)
            ops_all.extend(plan_metrics(df))
        gathered = metric_sum(ops_all, "numOutputRows", "", "LeftOuter")
        warped = _materialise(self._warp("cubic"))
        _, m["raster.checksum_busy_s"] = _timed(lambda: checksum_df(warped, self.dst))
        warped.unpersist()
        n_src = self.meta.blocks_x * self.meta.blocks_y * len(self.sizes["algs"])
        m.update({
            "raster.gather_rows": gathered,
            "raster.gather_ratio": gathered / n_src,
            "raster.shuffle_bytes": shuffle_bytes(ops_all),
            "raster.python_exec_s": sum(
                python_times_s(ops_all, p)["exec"] for p in ("FlatMapGroupsInPandas", "MapInPandas")
            ),
        })
        return m


WORKLOADS = {w.name: w for w in (FlagshipScan, PipelineCommit, KnnRing, WarpUtm)}

"""Seeded inputs, oracles and one measured iteration for each workload.

Every workload starts from blockgroups-style polygons
(``fixtures.polygons.polygon_fixture``) written as shapefiles and read
back through ``spark.read.format("shapefile")``, and from an image table
with the ``input_hint`` columns (image_id, bytes, w, h, fmt, caption,
phash) plus lon/lat, stored as parquet; ``bytes`` is projected away
before the join.  The oracle never runs the path under test: it
is the reference-pinned scalar ``ring_contains_points``, mirrored in
DuckDB SQL on a sample of points.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import Observation

from pyshp_spark.fixtures.polygons import BBOX, POLYGON, polygon_fixture
from pyshp_spark.kernels.rings import ring_contains_points
from pyshp_spark.operators.spatial import (
    clear_polygon_index_cache,
    point_in_polygon_join,
)
from pyshp_spark.sources.shp_writer import write_dbf, write_shp

KEY_BASE = 60750000000  # BKG_KEY "06075%07d" read as a number
POLY_COLS = ["wkb", "xmin", "ymin", "xmax", "ymax", "BKG_KEY"]


# -- inputs ---------------------------------------------------------------

def detail_polygons(n: int, vertices: int, start_key: int):
    """``n`` highly detailed single-ring polygons (``vertices`` each, CW)
    in a row south of the probed area, with fixture-style records: WKB
    volume that no probe point ever reaches."""
    x0, y0, x1, y1 = BBOX
    w, h = x1 - x0, y1 - y0
    theta = np.linspace(2 * np.pi, 0, vertices, endpoint=False)
    shapes, records = [], []
    for i in range(n):
        cx, cy, r = x0 + (i + 0.5) / n * w, y0 - 0.6 * h, 0.4 * w / n
        rad = r * (0.8 + 0.2 * np.sin(37 * theta))
        ring = np.column_stack([cx + rad * np.cos(theta), cy + rad * np.sin(theta)])
        shapes.append([np.vstack([ring, ring[:1]])])
        records.append([f"06075{start_key + i:07d}", 0, 0.0, None])
    return shapes, records


def write_shapefiles(shapes, records, fields, out_dir: str, files: int) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(files):
        lo, hi = i * len(shapes) // files, (i + 1) * len(shapes) // files
        shp, shx = write_shp([(POLYGON, rings) for rings in shapes[lo:hi]])
        dbf = write_dbf(fields, records[lo:hi])
        base = os.path.join(out_dir, f"part{i:02d}")
        for ext, data in (("shp", shp), ("shx", shx), ("dbf", dbf)):
            with open(f"{base}.{ext}", "wb") as f:
                f.write(data)
        paths.append(base)
    return paths


def image_table(lon: np.ndarray, lat: np.ndarray, seed: int, out_dir: str,
                files: int = 8) -> None:
    """Image-table rows at the given coordinates: the input_hint
    columns (with a 32-byte ``bytes`` payload) plus lon/lat, as
    ``files`` parquet files."""
    n = len(lon)
    rng = np.random.default_rng(seed + 1)
    ids = pa.array(np.arange(n, dtype=np.int64))
    id_str = pc.utf8_lpad(pc.cast(ids, pa.string()), 12, "0")
    payload = rng.integers(0, 256, size=n * 32, dtype=np.uint8)
    offsets = np.arange(0, n * 32 + 1, 32, dtype=np.int32)
    fmt = np.where(np.arange(n) % 10 == 0, "png", "raw")
    table = pa.table({
        "image_id": pc.binary_join_element_wise("img_", id_str, ""),
        "bytes": pa.Array.from_buffers(
            pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(payload)]
        ),
        "w": pa.array(rng.integers(8, 33, size=n, dtype=np.int32)),
        "h": pa.array(rng.integers(8, 33, size=n, dtype=np.int32)),
        "fmt": pa.array(fmt),
        "caption": pc.binary_join_element_wise("scene ", id_str, " zoom 17", ""),
        "phash": pa.array(rng.integers(0, 2**62, size=n, dtype=np.int64)),
        "lon": pa.array(lon),
        "lat": pa.array(lat),
    })
    os.makedirs(out_dir, exist_ok=True)
    for i in range(files):
        lo, hi = i * n // files, (i + 1) * n // files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(out_dir, f"part{i:02d}.parquet"))


def spread_points(rng, n: int, hot, hot_frac: float, hot_sd: float,
                  outside_frac: float = 0.10, band: float = 0.3):
    """``hot_frac`` of the points around ``hot`` (exactly on it when
    ``hot_sd`` is 0), ``outside_frac`` in a band up to ``band`` extents
    above or below the polygon extent, the rest uniform over it."""
    x0, y0, x1, y1 = BBOX
    w, h = x1 - x0, y1 - y0
    u = rng.uniform(size=n)
    lon = rng.uniform(x0, x1, size=n)
    lat = rng.uniform(y0, y1, size=n)
    is_hot = u < hot_frac
    k = int(is_hot.sum())
    lon[is_hot] = hot[0] + (rng.normal(0, hot_sd, size=k) if hot_sd else 0.0)
    lat[is_hot] = hot[1] + (rng.normal(0, hot_sd, size=k) if hot_sd else 0.0)
    out = (u >= hot_frac) & (u < hot_frac + outside_frac)
    k = int(out.sum())
    lon[out] = rng.uniform(x0, x1, size=k)
    lat[out] = np.where(rng.uniform(size=k) < 0.5,
                        rng.uniform(y0 - band * h, y0 - 0.02 * h, size=k),
                        rng.uniform(y1 + 0.02 * h, y1 + band * h, size=k))
    return lon, lat


def hot_point(shapes, dense: int) -> tuple[float, float]:
    """A coordinate inside polygon ``dense`` (the first dense multi-ring
    fixture polygon, centred at (0.2w, 0.8h)) that lies in exactly one
    other polygon bbox and inside no other polygon, so the hot key's
    candidate pairs and matches are the same for every seed."""
    x0, y0, x1, y1 = BBOX
    w, h = x1 - x0, y1 - y0
    boxes = np.array([shape_bbox(r) for r in shapes])
    for dx in np.linspace(-0.06, 0.06, 49):
        for dy in np.linspace(-0.03, 0.03, 13):
            x, y = x0 + (0.2 + dx) * w, y0 + (0.8 + dy) * h
            in_box = np.flatnonzero((boxes[:, 0] <= x) & (x <= boxes[:, 2])
                                    & (boxes[:, 1] <= y) & (y <= boxes[:, 3]))
            inside = [i for i in in_box if sum(
                ring_contains_points(r, [x], [y])[0] for r in shapes[i]) % 2]
            if len(in_box) == 2 and inside == [dense]:
                return x, y
    raise AssertionError("no hot coordinate with the required candidates")


# -- oracles --------------------------------------------------------------

def shape_bbox(rings) -> tuple[float, float, float, float]:
    pts = np.vstack(rings)
    return (pts[:, 0].min(), pts[:, 1].min(), pts[:, 0].max(), pts[:, 1].max())


def pip_oracle(shapes, lon, lat) -> tuple[np.ndarray, np.ndarray]:
    """(point index, polygon index) of every point inside a polygon:
    even-odd parity over all rings with the scalar reference kernel
    ``ring_contains_points``, on bbox-prefiltered distinct points."""
    # distinct coordinates, sorted by x (lexsort, then a change mask)
    order = np.lexsort((lat, lon))
    sx, sy = lon[order], lat[order]
    first = np.ones(len(order), dtype=bool)
    first[1:] = (sx[1:] != sx[:-1]) | (sy[1:] != sy[:-1])
    starts = np.flatnonzero(first)
    counts = np.diff(np.append(starts, len(order)))
    ux, uy = sx[first], sy[first]
    pt_parts, poly_parts = [], []
    for i, rings in enumerate(shapes):
        xmin, ymin, xmax, ymax = shape_bbox(rings)
        lo = np.searchsorted(ux, xmin, side="left")
        hi = np.searchsorted(ux, xmax, side="right")
        cand = np.arange(lo, hi)
        cand = cand[(uy[cand] >= ymin) & (uy[cand] <= ymax)]
        if not len(cand):
            continue
        parity = np.zeros(len(cand), dtype=np.int64)
        for r in rings:
            parity += ring_contains_points(r, ux[cand], uy[cand])
        inside = cand[(parity & 1).astype(bool)]
        pt_parts.append(inside)
        poly_parts.append(np.full(len(inside), i, dtype=np.int64))
    u_pts = np.concatenate(pt_parts) if pt_parts else np.empty(0, np.int64)
    u_poly = np.concatenate(poly_parts) if poly_parts else np.empty(0, np.int64)
    # expand each distinct coordinate back to its point rows
    reps = counts[u_pts]
    pt_idx = order[np.repeat(starts[u_pts], reps) + _ranges(reps)]
    return pt_idx, np.repeat(u_poly, reps)


def _ranges(counts: np.ndarray) -> np.ndarray:
    """Concatenated arange(c) for each c in ``counts``."""
    total = int(counts.sum())
    if not total:
        return np.empty(0, np.int64)
    heads = np.repeat(np.cumsum(counts) - counts, counts)
    return np.arange(total) - heads


def duckdb_pip(shapes, lon, lat, sample: np.ndarray) -> set[tuple[int, int]]:
    """SQL mirror of the crossing test on a sample of points."""
    import duckdb  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    edges, boxes = [], []
    for i, rings in enumerate(shapes):
        boxes.append((i, *shape_bbox(rings)))
        for r in rings:
            edges.append(np.column_stack([np.full(len(r) - 1, i), r[:-1], r[1:]]))
    e = np.vstack(edges)
    edge_df = pd.DataFrame({"pid": e[:, 0].astype(np.int64), "x0": e[:, 1],
                            "y0": e[:, 2], "x1": e[:, 3], "y1": e[:, 4]})
    box_df = pd.DataFrame(boxes, columns=["pid", "xmin", "ymin", "xmax", "ymax"])
    pts_df = pd.DataFrame({"id": sample, "x": lon[sample], "y": lat[sample]})
    con = duckdb.connect()
    con.register("edges", edge_df)
    con.register("boxes", box_df)
    con.register("pts", pts_df)
    rows = con.execute("""
        SELECT p.id, b.pid
        FROM pts p
        JOIN boxes b ON p.x BETWEEN b.xmin AND b.xmax
                    AND p.y BETWEEN b.ymin AND b.ymax
        JOIN edges e ON e.pid = b.pid
        GROUP BY p.id, b.pid
        HAVING sum(CASE
            WHEN (e.y0 >= p.y) = (e.y1 >= p.y) THEN 0
            WHEN (e.x0 >= p.x) = (e.x1 >= p.x) THEN CAST(e.x0 >= p.x AS INT)
            WHEN e.x1 - (e.y1 - p.y) * (e.x0 - e.x1) / (e.y0 - e.y1) >= p.x THEN 1
            ELSE 0 END) % 2 = 1
    """).fetchall()
    con.close()
    return {(int(a), int(b)) for a, b in rows}


# -- order-independent checksum of (point, polygon) or (query, target) pairs

def checksum_np(a: np.ndarray, b: np.ndarray) -> tuple[int, ...]:
    a = a.astype(np.int64)
    b = b.astype(np.int64)
    return (len(a), int(a.sum()), int(b.sum()), int((a * (b % 1021 + 1)).sum()),
            int(((a % 1009) * (b % 1013)).sum()))


def checksum_cols(a, b):
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(a).alias("sa"),
        F.sum(b).alias("sb"),
        F.sum(a * (b % 1021 + 1)).alias("sab"),
        F.sum((a % 1009) * (b % 1013)).alias("sr"),
    ]


def image_num(col: str = "image_id"):
    """img_000000000123 -> 123"""
    return F.substring(F.col(col), 5, 12).cast("long")


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# -- workloads ------------------------------------------------------------

class Workload:
    """``prepare`` writes the seeded inputs; ``setup_round`` ingests the
    polygons (repeated, for a median) and returns the status watermark
    it started from; ``oracle`` computes the expected output checksum.
    One measured iteration, ``run_once``, is one ``point_in_polygon_join``
    call plus one noop action over its output; ``verify`` then checks
    it, untimed.  Output rows are (image, BKG_KEY) pairs."""

    name = ""
    N_POLY = N_PROBE = 0
    N_FILES = 4
    HOT_FRAC = HOT_SD = 0.0
    salt = 1  # cover rows per polygon cell
    join_args: dict = {}

    def __init__(self, spark, tracer, status, seed: int, work: str):
        self.spark = spark
        self.tr = tracer
        self.status = status
        self.seed = seed
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.polygons = None

    def polygon_input(self):
        return polygon_fixture(self.N_POLY, self.seed)

    def prepare(self):
        self.shapes, records, fields = self.polygon_input()
        self.shp_paths = write_shapefiles(
            self.shapes, records, fields, os.path.join(self.work, "shp"), self.N_FILES
        )
        self.lon, self.lat = spread_points(
            self.rng, self.N_PROBE, hot=hot_point(self.shapes, dense=6),
            hot_frac=self.HOT_FRAC, hot_sd=self.HOT_SD)
        image_table(self.lon, self.lat, self.seed, os.path.join(self.work, "img"))
        self.images = self.spark.read.parquet(os.path.join(self.work, "img"))
        self.rows = self.N_PROBE

    def oracle(self):
        pt, poly = pip_oracle(self.shapes, self.lon, self.lat)
        self.expected = checksum_np(pt, KEY_BASE + poly)
        self.matches = len(pt)
        sample = np.random.default_rng(self.seed + 2).choice(self.rows, 400, replace=False)
        in_sample = np.isin(pt, sample)
        if set(zip(pt[in_sample].tolist(), poly[in_sample].tolist())) != duckdb_pip(
                self.shapes, self.lon, self.lat, sample):
            raise AssertionError("PIP oracle and its DuckDB mirror disagree")

    def _read_polygons(self):
        with self.tr.span("sources.read_shapefile"):
            return self.spark.read.format("shapefile").load(
                os.path.join(self.work, "shp")
            ).select(*POLY_COLS)

    def run_once(self):
        obs = Observation("chk")
        with self.tr.span("operators.spatial.point_in_polygon_join"):
            out = point_in_polygon_join(self.images.drop("bytes"), self.polygons,
                                        x="lon", y="lat", **self.join_args)
        out = out.observe(obs, *checksum_cols(image_num(),
                                              F.col("BKG_KEY").cast("long")))
        with self.tr.span("action.noop_write"):
            noop_write(out)
        return obs

    def _check(self, obs) -> tuple[bool, str]:
        got = obs.get
        got = tuple(int(got[k] or 0) for k in ("n", "sa", "sb", "sab", "sr"))
        if got != self.expected:
            return False, f"checksum {got} != oracle {self.expected}"
        return True, ""


class ProbeWarm(Workload):
    """Index once, probe forever: the set-up ingests the polygons and
    builds the broadcast index (cache cleared first, repeated for the
    median); each iteration is a default-argument
    ``point_in_polygon_join`` that must hit the cached index.  20% of
    the probe rows form a tight cluster inside a dense polygon."""

    name = "probe_warm"
    N_POLY, N_PROBE = 2000, 250_000
    HOT_FRAC, HOT_SD = 0.20, 1e-5

    def setup_round(self):
        """Cold ingest + broadcast index build: the first
        ``point_in_polygon_join`` call on a cleared cache runs the size
        probes and the build eagerly."""
        clear_polygon_index_cache()
        self.polygons = self._read_polygons()
        mark = self.status.watermark()
        with self.tr.span("operators.spatial.point_in_polygon_join", cold=True):
            point_in_polygon_join(self.images.drop("bytes"), self.polygons,
                                  x="lon", y="lat")
        return mark

    def verify(self, obs, mark) -> tuple[bool, str]:
        scans = self.status.source_scans_since(mark)
        if scans:
            return False, f"cached-index path missed: {scans} shapefile scan stages"
        return self._check(obs)


class SkewShuffle(Workload):
    """Salted shuffle path under a hot key: 25% of probe rows on one
    coordinate inside a dense multi-ring polygon; ``broadcast_polygons=
    False, salt_k=8``.  Detailed polygons outside the probed area bring
    the polygon WKB to tens of MB, so the pid→WKB re-attach stays a
    sort-merge join."""

    name = "skew_shuffle"
    N_POLY, N_PROBE, N_DETAIL, DETAIL_VERTICES = 6000, 200_000, 16, 100_000
    HOT_FRAC = 0.25
    salt = 8
    join_args = {"broadcast_polygons": False, "salt_k": salt}

    def polygon_input(self):
        shapes, records, fields = super().polygon_input()
        extra, extra_records = detail_polygons(self.N_DETAIL, self.DETAIL_VERTICES,
                                               len(shapes))
        return shapes + extra, records + extra_records, fields

    def setup_round(self):
        """Ingest the polygons into an in-memory table."""
        if self.polygons is not None:
            self.polygons.unpersist(blocking=True)
        mark = self.status.watermark()
        self.polygons = self._read_polygons().cache()
        self.polygons.count()
        return mark

    def verify(self, obs, mark) -> tuple[bool, str]:
        nodes = self.status.plan_nodes_since(mark)
        if "SortMergeJoin" not in nodes:
            joins = sorted(n for n in nodes if "Join" in n)
            return False, f"pid->WKB re-attach did not stay sort-merge: {joins}"
        return self._check(obs)


WORKLOADS = {w.name: w for w in (ProbeWarm, SkewShuffle)}

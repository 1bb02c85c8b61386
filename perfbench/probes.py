"""Single-core layer probes on a workload's own inputs: the public
functions of ``sources``, ``functions.cells``, ``kernels`` and the
broadcast index, timed in the driver process."""

from __future__ import annotations

import time

import numpy as np

from pyshp_spark.functions.cells import GRID
from pyshp_spark.kernels.rings import pip_pairs_flat, rings_to_edges, stack_edges
from pyshp_spark.kernels.wkb import wkb_rings
from pyshp_spark.operators.spatial import BroadcastPolygonIndex
from pyshp_spark.sources.shapefile import shapefile_to_pandas

MIN_PROBE_S = 0.3
MAX_PAIRS = 300_000


def rate(fn, units: int) -> float:
    """Units per second of ``fn``, repeated for at least MIN_PROBE_S;
    the median repetition counts."""
    times = []
    start = time.perf_counter()
    while time.perf_counter() - start < MIN_PROBE_S or len(times) < 3:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return units / float(np.median(times))


def cover_index(boxes: np.ndarray):
    """(sorted cover cells, polygon id per cover row) from
    ``Grid.bbox_cover_np``."""
    covers = [GRID.bbox_cover_np(*b) for b in boxes]
    pids = np.repeat(np.arange(len(boxes)), [len(c) for c in covers])
    cells = np.concatenate(covers)
    order = np.argsort(cells, kind="stable")
    return cells[order], pids[order]


def candidates(cells_sorted, pids_sorted, boxes, lon, lat):
    """Cell-join candidates (point index, polygon id), before and after
    the bbox prune."""
    cells = GRID.cell_np(lon, lat)
    lo = np.searchsorted(cells_sorted, cells, side="left")
    hi = np.searchsorted(cells_sorted, cells, side="right")
    counts = hi - lo
    total = int(counts.sum())
    pt = np.repeat(np.arange(len(cells)), counts)
    heads = np.repeat(np.cumsum(counts) - counts, counts)
    poly = pids_sorted[np.repeat(lo, counts) + np.arange(total) - heads]
    b = boxes[poly]
    keep = ((b[:, 0] <= lon[pt]) & (lon[pt] <= b[:, 2])
            & (b[:, 1] <= lat[pt]) & (lat[pt] <= b[:, 3]))
    return total, pt[keep], poly[keep]


def layer_probes(w) -> dict:
    files = []
    for base in w.shp_paths:
        with open(base + ".shp", "rb") as f, open(base + ".dbf", "rb") as g:
            files.append((f.read(), g.read()))
    frames = [shapefile_to_pandas(shp, dbf) for shp, dbf in files]
    n_records = sum(len(f) for f in frames)
    wkbs = [bytes(b) for f in frames for b in f["wkb"]]
    boxes = np.vstack([f[["xmin", "ymin", "xmax", "ymax"]].to_numpy() for f in frames])

    def parse_all():
        for shp, dbf in files:
            shapefile_to_pandas(shp, dbf)

    edges = [rings_to_edges(wkb_rings(b)) for b in wkbs]
    all_edges, offsets = stack_edges(edges)
    cells_sorted, pids_sorted = cover_index(boxes)
    n_cand, pt, poly = candidates(cells_sorted, pids_sorted, boxes, w.lon, w.lat)
    sel = np.random.default_rng(w.seed + 3).permutation(len(pt))[:MAX_PAIRS]
    pt_s, poly_s = pt[sel], poly[sel]
    px, py = w.lon[pt_s], w.lat[pt_s]

    out = {
        "sources.records_per_s": (rate(parse_all, n_records), "1/s"),
        "kernels.edge_parse_per_s": (
            rate(lambda: [rings_to_edges(wkb_rings(b)) for b in wkbs], len(all_edges)),
            "1/s"),
        "cells.cell_np_rows_per_s": (
            rate(lambda: GRID.cell_np(w.lon, w.lat), len(w.lon)), "1/s"),
        "cells.cover_rows": (
            float(len(cells_sorted) * w.salt), "count"),
        "kernels.pip_pairs_per_s": (
            rate(lambda: pip_pairs_flat(all_edges, offsets, poly_s, px, py), len(pt_s)),
            "1/s"),
        "join.match_ratio": (w.matches / n_cand, "ratio"),
        "index.broadcast_mb": (0.0, "MB"),
    }
    if w.name == "probe_warm":
        idx = BroadcastPolygonIndex(w.polygons)
        out["index.broadcast_mb"] = (
            sum(a.nbytes for a in idx.bc.value) / 1e6, "MB")
        idx.bc.unpersist()
    return out

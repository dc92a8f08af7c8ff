"""Polygon (bbox) -> covering cell set at adaptive resolution.

The filter-refine contract: for every point p inside bbox B,
`h3_encode(p, res(B))` MUST be in `cover(B)` (no false negatives; false
positives are removed by the exact refine predicate in pip.py). The cover is
built by enumerating the hex lattice directly on each icosahedron face the
bbox touches — O(cells), never O(area/sample_step^2) — with generous pads
for gnomonic distortion and face-boundary clipping.

Resolution is chosen per-polygon (SURVEY.md §4.3 "resolution selection"):
the finest res in [res_min, res_max] whose estimated cover stays under
`max_cells`. Big collection polygons get res 5-6, small item footprints get
res 8-9 — exactly the H3 res 5-9 band from BASELINE.json.

`fully_inside` marks cells that cannot touch the bbox boundary; pip.py skips
the exact predicate for those rows (the classic filter-refine split).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from stac_to_geocore_spark.cells import h3x
from stac_to_geocore_spark.partitioning import fan_out

DEG = 180.0 / math.pi
# gnomonic distortion bound within a face (sec^2 of max center->vertex angle)
_DISTORT = 1.7


def cell_area_rad2(res: int) -> float:
    """Area (rad^2) of one hex cell at `res` (adaptive_res's lattice area model)."""
    s = h3x.res_spacing(res)
    return (math.sqrt(3.0) / 2.0) * s * s


def adaptive_res(west: float, south: float, east: float, north: float,
                 res_min: int = 5, res_max: int = 9, max_cells: int = 2048) -> int:
    """Finest res whose estimated cover of the bbox is <= max_cells."""
    area_rad2 = max(1e-12, math.radians(east - west) * math.radians(north - south)
                    * math.cos(math.radians((south + north) / 2.0)))
    for res in range(res_max, res_min - 1, -1):
        if area_rad2 / cell_area_rad2(res) <= max_cells:
            return res
    return res_min


def cover_bbox_np(west: float, south: float, east: float, north: float, res: int
                  ) -> tuple[np.ndarray, np.ndarray]:
    """Covering cells of a geographic bbox at `res`.

    Returns (cells:int64[], fully_inside:bool[]). Superset guarantee: every
    cell that any point of the bbox encodes to is present.
    """
    spacing = h3x.res_spacing(res)
    inr_deg = (spacing / 2.0) * DEG / _DISTORT        # min angular inradius
    circ_deg = (spacing / math.sqrt(3.0)) * DEG * _DISTORT  # max angular circumradius

    # sample the bbox densely enough that adjacent samples are < 2 cell
    # inradii apart (so every region of the bbox has a nearby sample)
    coslat = max(0.05, math.cos(math.radians(max(abs(south), abs(north)))))
    nx = max(2, min(512, int(math.ceil((east - west) * coslat / inr_deg)) + 2))
    ny = max(2, min(512, int(math.ceil((north - south) / inr_deg)) + 2))
    lons = np.linspace(west, east, nx)
    lats = np.linspace(south, north, ny)
    glon, glat = np.meshgrid(lons, lats)
    glon, glat = glon.ravel(), glat.ravel()

    xyz = h3x._latlon_to_xyz(glat, glon)
    faces, zp = h3x._xyz_to_face_plane(xyz)
    xform = h3x._RES_XFORM[res]
    zl = zp * xform
    bf = zl.imag / h3x._TAU.imag
    af = zl.real - 0.5 * bf

    # pad in lattice units: sampling gap + rounding + face-clip slack
    gap_rad = math.radians(max((east - west) / (nx - 1) * coslat, (north - south) / (ny - 1)))
    pad = int(math.ceil(gap_rad * _DISTORT / spacing)) + 3

    cells_all, full_all = [], []
    for f in np.unique(faces):
        m = faces == f
        a_lo, a_hi = int(np.floor(af[m].min())) - pad, int(np.ceil(af[m].max())) + pad
        b_lo, b_hi = int(np.floor(bf[m].min())) - pad, int(np.ceil(bf[m].max())) + pad
        aa, bb = np.meshgrid(np.arange(a_lo, a_hi + 1), np.arange(b_lo, b_hi + 1))
        aa, bb = aa.ravel().astype(np.int64), bb.ravel().astype(np.int64)
        # candidate centers -> lat/lon (through this face's plane)
        zlc = aa.astype(np.float64) + bb.astype(np.float64) * h3x._TAU
        zpc = zlc / xform
        cxyz = h3x._plane_to_xyz(np.full(aa.shape, f, dtype=np.int64), zpc)
        clat, clon = h3x._xyz_to_latlon(cxyz)
        # keep cells whose disc could overlap the bbox
        keep = (
            (clon >= west - circ_deg / coslat) & (clon <= east + circ_deg / coslat)
            & (clat >= south - circ_deg) & (clat <= north + circ_deg)
        )
        if not keep.any():
            continue
        aa, bb, clat, clon = aa[keep], bb[keep], clat[keep], clon[keep]
        # pack (face, a, b) DIRECTLY — a point whose max-dot face is f always
        # rounds on face f's lattice, so the ids points produce are exactly
        # the face-f lattice ids (re-encoding centers would mis-assign
        # boundary cells whose center falls across the face seam)
        cells = h3x._pack(np.full(aa.shape, f, dtype=np.int64), aa, bb, res)
        full = (
            (clon - circ_deg / coslat >= west) & (clon + circ_deg / coslat <= east)
            & (clat - circ_deg >= south) & (clat + circ_deg <= north)
        )
        cells_all.append(cells)
        full_all.append(full)

    cells = np.concatenate(cells_all)
    full = np.concatenate(full_all)
    # dedup (faces overlap at boundaries); a cell is fully_inside only if
    # every occurrence says so
    order = np.argsort(cells, kind="stable")
    cells, full = cells[order], full[order]
    uniq, idx = np.unique(cells, return_index=True)
    full_u = np.minimum.reduceat(full.astype(np.int8), idx).astype(bool)
    return uniq, full_u


def _ragged_grid(lo_x: np.ndarray, nx: np.ndarray, lo_y: np.ndarray, ny: np.ndarray
                 ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Flatten per-box (nx_i x ny_i) index grids: returns (box, ix, iy) with
    row-major x-inner ordering (matching meshgrid('xy').ravel())."""
    cnt = nx * ny
    total = int(cnt.sum())
    box = np.repeat(np.arange(len(nx), dtype=np.int64), cnt)
    starts = np.concatenate([[0], np.cumsum(cnt)[:-1]])
    rel = np.arange(total, dtype=np.int64) - np.repeat(starts, cnt)
    return box, lo_x[box] + rel % nx[box], lo_y[box] + rel // nx[box]


def cover_bbox_batch_np(west: np.ndarray, south: np.ndarray, east: np.ndarray,
                        north: np.ndarray, res: int, max_samples: int = 1024,
                        chunk: int = 512
                        ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized cover for a BATCH of bboxes at one fixed res.

    Returns (box_idx:int64[], cells:int64[], fully_inside:bool[], handled:bool[N])
    where `handled` marks boxes the batch path computed; the caller runs
    cover_bbox_np per-polygon for the rest. The batch path takes boxes whose
    sample grid is at most max_samples points (bounds batch memory) and
    whose samples ALL land on ONE icosahedron face — for those its output is
    bit-identical to cover_bbox_np: same linspace sample grid (including
    numpy's exact-endpoint override), same pad, same candidate ranges, same
    keep/fully_inside predicates, same sorted-unique per-box layout
    (regression-tested against the per-polygon kernel in tests/test_spatial.py).

    Why it exists: cover_bbox_np costs ~0.3 ms/polygon in small-array numpy
    overhead — for a region-region join shuffling 10^5-10^6 box covers the
    per-polygon dispatch dominates the math ~10x (measured 8x end-to-end on
    the orders-derived fixture). Work proceeds in `chunk`-box slices: the
    candidate arrays of ~512 tiny boxes stay cache-resident, where one
    monolithic 15k-box pass thrashes (measured SLOWER than per-poly).
    """
    west = np.asarray(west, np.float64)
    south = np.asarray(south, np.float64)
    east = np.asarray(east, np.float64)
    north = np.asarray(north, np.float64)
    n = len(west)
    empty_i = np.empty(0, np.int64)
    empty_b = np.empty(0, bool)
    if n == 0:
        return empty_i, empty_i, empty_b, np.zeros(0, bool)
    if n > chunk:
        bis, cs, fs, hs = [], [], [], []
        for lo in range(0, n, chunk):
            bi, c, f, h = cover_bbox_batch_np(
                west[lo:lo + chunk], south[lo:lo + chunk],
                east[lo:lo + chunk], north[lo:lo + chunk], res,
                max_samples, chunk)
            bis.append(bi + lo)
            cs.append(c)
            fs.append(f)
            hs.append(h)
        return (np.concatenate(bis), np.concatenate(cs),
                np.concatenate(fs), np.concatenate(hs))

    spacing = h3x.res_spacing(res)
    inr_deg = (spacing / 2.0) * DEG / _DISTORT
    circ_deg = (spacing / math.sqrt(3.0)) * DEG * _DISTORT

    coslat = np.maximum(0.05, np.cos(np.radians(np.maximum(np.abs(south), np.abs(north)))))
    nx = np.clip(np.ceil((east - west) * coslat / inr_deg).astype(np.int64) + 2, 2, 512)
    ny = np.clip(np.ceil((north - south) / inr_deg).astype(np.int64) + 2, 2, 512)
    small = nx * ny <= max_samples
    sidx = np.nonzero(small)[0]
    if len(sidx) == 0:
        return empty_i, empty_i, empty_b, np.zeros(n, bool)
    w0, s0, e0, n0 = west[sidx], south[sidx], east[sidx], north[sidx]
    nx0, ny0, cl0 = nx[sidx], ny[sidx], coslat[sidx]

    # ragged sample grids, replicating np.linspace bit-exactly: value =
    # j * ((stop-start)/(num-1)) + start, with the LAST point set to stop
    sbox, jx, jy = _ragged_grid(np.zeros(len(sidx), np.int64), nx0,
                                np.zeros(len(sidx), np.int64), ny0)
    glon = jx * ((e0 - w0) / (nx0 - 1))[sbox] + w0[sbox]
    glon[jx == nx0[sbox] - 1] = e0[sbox][jx == nx0[sbox] - 1]
    glat = jy * ((n0 - s0) / (ny0 - 1))[sbox] + s0[sbox]
    glat[jy == ny0[sbox] - 1] = n0[sbox][jy == ny0[sbox] - 1]

    xyz = h3x._latlon_to_xyz(glat, glon)
    faces, zp = h3x._xyz_to_face_plane(xyz)
    zl = zp * h3x._RES_XFORM[res]
    bf = zl.imag / h3x._TAU.imag
    af = zl.real - 0.5 * bf

    # one face per box (reduceat over the ragged sample groups)
    scnt = nx0 * ny0
    sstart = np.concatenate([[0], np.cumsum(scnt)[:-1]])
    one_face = (np.minimum.reduceat(faces, sstart)
                == np.maximum.reduceat(faces, sstart))
    handled = np.zeros(n, bool)
    handled[sidx[one_face]] = True
    keep_boxes = np.nonzero(one_face)[0]
    if len(keep_boxes) == 0:
        return empty_i, empty_i, empty_b, handled

    af_lo = np.minimum.reduceat(af, sstart)[keep_boxes]
    af_hi = np.maximum.reduceat(af, sstart)[keep_boxes]
    bf_lo = np.minimum.reduceat(bf, sstart)[keep_boxes]
    bf_hi = np.maximum.reduceat(bf, sstart)[keep_boxes]
    face_of = faces[sstart][keep_boxes]
    w1, s1, e1, n1 = w0[keep_boxes], s0[keep_boxes], e0[keep_boxes], n0[keep_boxes]
    nx1, ny1, cl1 = nx0[keep_boxes], ny0[keep_boxes], cl0[keep_boxes]
    orig = sidx[keep_boxes]

    # pad in lattice units: sampling gap + rounding + face-clip slack
    gap_rad = np.radians(np.maximum((e1 - w1) / (nx1 - 1) * cl1,
                                    (n1 - s1) / (ny1 - 1)))
    pad = np.ceil(gap_rad * _DISTORT / spacing).astype(np.int64) + 3
    a_lo = np.floor(af_lo).astype(np.int64) - pad
    a_hi = np.ceil(af_hi).astype(np.int64) + pad
    b_lo = np.floor(bf_lo).astype(np.int64) - pad
    b_hi = np.ceil(bf_hi).astype(np.int64) + pad

    # ragged per-box candidate grids -> centers -> keep/full predicates
    box, aa, bb = _ragged_grid(a_lo, a_hi - a_lo + 1, b_lo, b_hi - b_lo + 1)
    zlc = aa.astype(np.float64) + bb.astype(np.float64) * h3x._TAU
    zpc = zlc / h3x._RES_XFORM[res]
    cxyz = h3x._plane_to_xyz(face_of[box], zpc)
    clat, clon = h3x._xyz_to_latlon(cxyz)

    cl_, w_, s_ = cl1[box], w1[box], s1[box]
    e_, n_ = e1[box], n1[box]
    keep = (
        (clon >= w_ - circ_deg / cl_) & (clon <= e_ + circ_deg / cl_)
        & (clat >= s_ - circ_deg) & (clat <= n_ + circ_deg)
    )
    box, aa, bb = box[keep], aa[keep], bb[keep]
    clat, clon, cl_ = clat[keep], clon[keep], cl_[keep]
    w_, s_, e_, n_ = w_[keep], s_[keep], e_[keep], n_[keep]
    cells = h3x._pack(face_of[box], aa, bb, res)
    full = (
        (clon - circ_deg / cl_ >= w_) & (clon + circ_deg / cl_ <= e_)
        & (clat - circ_deg >= s_) & (clat + circ_deg <= n_)
    )
    # single face per box -> (a, b) pairs are already unique within a box;
    # sort by (box, cell) to match cover_bbox_np's sorted-unique layout
    order = np.lexsort((cells, box))
    return orig[box[order]], cells[order], full[order], handled


def merge_envelopes(boxes, max_k: int = 4) -> list[tuple[float, float, float, float]]:
    """Merge bboxes into at most max_k covering envelopes: union-find merge
    of overlapping boxes to a fixpoint, then greedy smallest-waste pair
    merges down to max_k. The result is a SUPERSET of the input union, so
    it is safe anywhere a bbox prefilter must never drop a qualifying row.

    Why bound the clause count: each envelope becomes one pushdown-ready
    4-comparison range clause, and when the point columns are DERIVED
    expressions (not stored attributes) predicate pushdown inlines the full
    column arithmetic into EVERY comparison — measured ~45 ms per clause
    over a 150k-row single-split scan at sf1.0, so a 24-box OR-chain cost
    1.3 s where 4 merged envelopes cost ~0.2 s. On stored columns the
    clauses are plain compares and more of them only sharpens min/max
    pruning; max_k trades a little of that sharpness for a bounded worst
    case on both kinds of input. boxes: iterable of (w, s, e, n)."""
    envs = [list(map(float, b)) for b in boxes]
    changed = True
    while changed:  # union-find overlap merge to fixpoint
        changed = False
        out: list[list[float]] = []
        for b in envs:
            for o in out:
                if b[0] <= o[2] and b[2] >= o[0] and b[1] <= o[3] and b[3] >= o[1]:
                    o[0] = min(o[0], b[0]); o[1] = min(o[1], b[1])
                    o[2] = max(o[2], b[2]); o[3] = max(o[3], b[3])
                    changed = True
                    break
            else:
                out.append(b)
        envs = out
    while len(envs) > max_k:  # greedy: merge the pair wasting least area
        best, bi, bj = None, 0, 1
        for i in range(len(envs)):
            for j in range(i + 1, len(envs)):
                a, b = envs[i], envs[j]
                u = ((max(a[2], b[2]) - min(a[0], b[0]))
                     * (max(a[3], b[3]) - min(a[1], b[1])))
                waste = u - (a[2] - a[0]) * (a[3] - a[1]) - (b[2] - b[0]) * (b[3] - b[1])
                if best is None or waste < best:
                    best, bi, bj = waste, i, j
        a, b = envs[bi], envs.pop(bj)
        a[0] = min(a[0], b[0]); a[1] = min(a[1], b[1])
        a[2] = max(a[2], b[2]); a[3] = max(a[3], b[3])
    return [tuple(b) for b in envs]


# Shared driver-dim contract: a geometry table at or below this row count is
# safe to collect and plan/broadcast driver-side (pip_join, pip_ring_join,
# flagship, bbox_overlap_join all share this threshold — tune it in ONE place)
DRIVER_DIM_MAX = 10_000

COVER_SCHEMA = StructType(
    [
        StructField("poly_id", StringType(), False),
        StructField("res", IntegerType(), False),
        StructField("cell", LongType(), False),
        StructField("fully_inside", BooleanType(), False),
        StructField("west", DoubleType(), False),
        StructField("south", DoubleType(), False),
        StructField("east", DoubleType(), False),
        StructField("north", DoubleType(), False),
    ]
)


def covers_pdf(polys_pdf: pd.DataFrame, res_min: int = 5, res_max: int = 9,
               max_cells: int = 2048, fixed_res: int | None = None) -> pd.DataFrame:
    """The one numpy cover planner: (poly_id, west, south, east, north) rows
    -> COVER_SCHEMA rows, polygon-major with each polygon's cells sorted.

    Called directly for a dim-sized polygon table (driver-side, no Spark
    job — like the reference's driver-side pagination planner) and once per
    Arrow batch inside covers_df's mapInPandas. Boxes are grouped by res
    (fixed_res, else adaptive_res per box) and each group goes through the
    batched kernel (~10x less numpy dispatch than a per-polygon loop); the
    boxes it does not take (multi-face, or over its sample cap) fall back
    to cover_bbox_np. The kernel is bit-identical to cover_bbox_np on every
    box it takes, so the split never changes the output."""
    if len(polys_pdf) == 0:
        return pd.DataFrame({f.name: pd.Series(dtype="object") for f in COVER_SCHEMA.fields})
    wv = polys_pdf["west"].to_numpy(np.float64)
    sv = polys_pdf["south"].to_numpy(np.float64)
    ev = polys_pdf["east"].to_numpy(np.float64)
    nv = polys_pdf["north"].to_numpy(np.float64)
    if fixed_res is not None:
        res = np.full(len(wv), fixed_res, np.int32)
    else:
        res = np.array([adaptive_res(w, s, e, n, res_min, res_max, max_cells)
                        for w, s, e, n in zip(wv, sv, ev, nv)], np.int32)
    boxes, cells, full = [], [], []
    for r in np.unique(res).tolist():
        grp = np.nonzero(res == r)[0]
        bi, c, f, handled = cover_bbox_batch_np(wv[grp], sv[grp], ev[grp], nv[grp], r)
        boxes.append(grp[bi])
        cells.append(c)
        full.append(f)
        for i in grp[~handled]:
            c, f = cover_bbox_np(wv[i], sv[i], ev[i], nv[i], r)
            boxes.append(np.full(len(c), i, np.int64))
            cells.append(c)
            full.append(f)
    bi = np.concatenate(boxes)
    order = np.argsort(bi, kind="stable")
    bi = bi[order]
    return pd.DataFrame({
        "poly_id": polys_pdf["poly_id"].to_numpy(object)[bi], "res": res[bi],
        "cell": np.concatenate(cells)[order],
        "fully_inside": np.concatenate(full)[order],
        "west": wv[bi], "south": sv[bi], "east": ev[bi], "north": nv[bi],
    })


def covers_df(polys: DataFrame, res_min: int = 5, res_max: int = 9,
              max_cells: int = 2048, fixed_res: int | None = None) -> DataFrame:
    """Distributed cover generation: covers_pdf over each Arrow batch of
    polys (poly_id, west, south, east, north) in one mapInPandas — one
    output row per (polygon, cell), each cover bounded by max_cells via
    adaptive resolution.

    Parallelism: cover synthesis is CPU-bound Python work, but a compact
    parquet dim table often reads as 1-2 file-split partitions — which
    would serialize 10^5 polygons onto 1-2 cores (this cost 100+ s at sf0.1
    before the fix). fan_out raises the partition count to the cluster's
    parallelism and never lowers it, so a big region table with thousands
    of splits keeps its task granularity; the shuffled rows are 5 scalars
    each, noise next to the python work they parallelize.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield covers_pdf(b, res_min, res_max, max_cells, fixed_res)

    return fan_out(polys).mapInPandas(gen, COVER_SCHEMA)


def register_cover_udtf(spark: SparkSession, name: str = "cover_cells") -> None:
    """SQL-composable cover generation as a Python UDTF: makes the cell
    cover a LATERAL table function so pure-SQL users can build spatial
    filter-refine joins without leaving Spark SQL:

        SELECT p.poly_id, c.cell
        FROM polys p, LATERAL cover_cells(p.west, p.south, p.east, p.north, 6) c

    Each eval() call runs one vectorized numpy cover (same kernel as
    covers_df); the UDTF is the per-row table-expansion surface, covers_df
    the bulk mapInPandas surface. Output rows ride Arrow batches
    (useArrow) instead of pickled rows — a cover yields up to max_cells
    rows per input row, so the output serialization is the UDTF's hot
    path; falls back to the pickling UDTF if the runtime lacks Arrow
    UDTF support."""
    from pyspark.sql.functions import udtf

    class CoverCells:
        def eval(self, west, south, east, north, res: int):
            # SQL decimal literals arrive as decimal.Decimal — coerce
            cells, full = cover_bbox_np(float(west), float(south), float(east), float(north), int(res))
            for c, f in zip(cells.tolist(), full.tolist()):
                yield int(c), bool(f)

    try:
        wrapped = udtf(CoverCells, returnType="cell bigint, fully_inside boolean", useArrow=True)
    except TypeError:  # runtime without Arrow-UDTF support
        wrapped = udtf(CoverCells, returnType="cell bigint, fully_inside boolean")
    spark.udtf.register(name, wrapped)

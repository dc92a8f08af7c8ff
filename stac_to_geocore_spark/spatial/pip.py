"""Cell-bucketed point-in-polygon join (filter + refine).

The distributed analogue of the reference's only join — the broadcast
dict-probe at stac_to_geocore.py:553-566 / :589-595 — generalized to spatial
containment per BASELINE.json ("cell-bucketed broadcast or sort-merge
spatial joins for point-in-polygon assignment of images to GeoCore
collection polygons").

Plan shape (all pyspark.sql; Catalyst/AQE pick physical operators):

  polygons --covers--> (poly_id, res, cell, fully_inside, bbox)   [K cells/poly]
  points   --fused multi-res encode + posexplode--> (point_id, lon, lat, res, cell)
  equi-join on (res, cell)  broadcast when cover side is small, else
                            shuffle hash/sort-merge with optional salting
  refine                    fully_inside OR exact bbox predicate (column math)

Scale notes (the 100 TB story):
- ONE points scan regardless of how many resolutions the adaptive cover
  picked (all cells encoded in one Arrow pass sharing one sphere
  projection); the scan is pruned to (point_id, lon, lat) so parquet
  column pruning does the heavy lifting, and dim-sized polygon sets add a
  pushdown-ready bbox-union predicate before the encode.
- Cover side is polygons x <=max_cells rows — for realistic polygon counts
  it broadcasts, so the points table never shuffles at all.
- When the cover side is too big to broadcast, hot cells (coastal/urban
  skew) are salted: points get cell#salt from a seeded hash of point_id,
  the cover side explodes x salt_factor. AQE skewJoin stays on as backstop.
- Refinement is pure JVM column math (no Python) because footprints are
  bboxes; `refine_ring` offers exact vectorized ray-casting for general
  polygon rings via a pandas UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from stac_to_geocore_spark.cells.h3x import multi_res_cells
from stac_to_geocore_spark.partitioning import fan_out
from stac_to_geocore_spark.spatial.cover import (
    COVER_SCHEMA,
    DRIVER_DIM_MAX,
    covers_df,
    covers_pdf,
    merge_envelopes,
)


def plan_covers(
    polygons: DataFrame,
    res_min: int = 5,
    res_max: int = 9,
    max_cells: int = 2048,
    fixed_res: int | None = None,
    polygons_are_dim: bool | None = None,
) -> tuple[DataFrame, pd.DataFrame | None]:
    """The polygon side of the cell join, planned in ONE place for pip_join
    and pipeline.flagship: returns (covers in COVER_SCHEMA, the driver-side
    cover frame or None when the covers were planned distributed).

    polygons_are_dim: None (default) probes with ONE bounded
    `limit(DRIVER_DIM_MAX+1).toPandas()` job that doubles as the collect
    when the set is small (a separate count() was one extra Spark job per
    call). A dim-sized set is planned on the driver by covers_pdf (pure
    numpy, no further Spark job); a bigger one goes through the distributed
    covers_df path. False skips the probe and goes straight to covers_df
    (the only case that saves the job). True asserts the caller's dim
    claim: the same bounded collect, but a table over DRIVER_DIM_MAX rows
    raises instead of silently switching paths."""
    if polygons_are_dim is not False:
        probe = polygons.limit(DRIVER_DIM_MAX + 1).toPandas()
        if len(probe) <= DRIVER_DIM_MAX:
            cov_pdf = covers_pdf(probe, res_min, res_max, max_cells, fixed_res)
            return polygons.sparkSession.createDataFrame(cov_pdf, COVER_SCHEMA), cov_pdf
        if polygons_are_dim is True:
            raise ValueError(
                f"polygons_are_dim=True but the polygon table exceeds "
                f"{DRIVER_DIM_MAX} rows — drop the hint (None) or pass False"
            )
    return covers_df(polygons, res_min, res_max, max_cells, fixed_res), None


def bbox_refine(lon: str = "lon", lat: str = "lat") -> Column:
    """The exact refine of a cover-cell join: a candidate survives when its
    cell lies fully inside the polygon bbox or the point is inside the bbox
    (closed edges) — pure JVM column math, fused into the join."""
    return F.col("fully_inside") | (
        (F.col(lon) >= F.col("west")) & (F.col(lon) <= F.col("east"))
        & (F.col(lat) >= F.col("south")) & (F.col(lat) <= F.col("north"))
    )


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    point_id: str = "image_id",
    lon: str = "lon",
    lat: str = "lat",
    res_min: int = 5,
    res_max: int = 9,
    max_cells: int = 128,
    fixed_res: int | None = None,
    broadcast_covers: bool | None = None,
    salt_factor: int = 0,
    polygons_are_dim: bool | None = None,
) -> DataFrame:
    """Assign each point to every containing polygon.

    points:   (point_id, lon, lat, ...)
    polygons: (poly_id, west, south, east, north)
    returns   (point_id, poly_id, lon, lat)

    broadcast_covers: True forces broadcast, False forces shuffle join,
    None lets Catalyst/AQE decide from size stats.
    salt_factor > 0 salts the join key (use for skewed cells when the cover
    side must shuffle).
    polygons_are_dim: routing hint for the cover side (see plan_covers).

    Dim-sized polygon sets plan their covers on the driver (pure numpy,
    zero extra Spark jobs) and contribute a JVM-side bbox-union pre-filter
    on the points — only points inside some polygon bbox can ever be
    assigned (the refine predicate enforces exactly that), so the python
    cell encode runs over the pre-filtered subset and, on an uncached
    table, the predicate is what parquet min/max pruning pushes down.
    Bigger polygon tables go through the distributed covers_df path.
    """
    pts = points.select(point_id, lon, lat)
    covers, cov_pdf = plan_covers(polygons, res_min, res_max, max_cells, fixed_res,
                                  polygons_are_dim)
    if cov_pdf is not None:
        res_rows = cov_pdf["res"].unique()
        # bbox-union pre-filter, built from <=4 MERGED envelopes (still a
        # pushdown-ready range predicate; the exact cell join + refine do
        # the fine selection). Per-box clauses were measured at ~45 ms EACH
        # on a derived-column scan (pushdown inlines the lon/lat arithmetic
        # into every comparison: 24 boxes cost 1.3 s of the old 2.2 s
        # pip_assign at sf1.0); merged envelopes bound the clause count on
        # any input. Beyond 64 boxes the O(n^2) driver merge is skipped for
        # the single min/max envelope of all boxes (O(n) numpy) — strictly
        # more filtering than the old no-filter fallback.
        bboxes = cov_pdf[["poly_id", "west", "south", "east", "north"]].drop_duplicates("poly_id")
        if len(bboxes) > 0:
            if len(bboxes) <= 64:
                envs = merge_envelopes(
                    bboxes[["west", "south", "east", "north"]].to_numpy(), max_k=4)
            else:
                envs = [(float(bboxes.west.min()), float(bboxes.south.min()),
                         float(bboxes.east.max()), float(bboxes.north.max()))]
            # ONE expr() parse instead of ~8 py4j Column calls per bbox —
            # building the chain Column-by-Column cost ~0.6s of driver time
            # at 24 polygons (part of the r2 pip_assign regression)
            clauses = " OR ".join(
                f"(`{lon}` >= {w!r} AND `{lon}` <= {e!r}"
                f" AND `{lat}` >= {s!r} AND `{lat}` <= {n!r})"
                for w, s, e, n in envs
            )
            pts = pts.filter(F.expr(clauses))
    else:
        res_rows = [r.res for r in covers.select("res").distinct().collect()]
    if broadcast_covers is True or (
        broadcast_covers is None and cov_pdf is not None and salt_factor == 0
    ):
        # driver-planned covers are dim-sized BY CONSTRUCTION (<= DRIVER_DIM_MAX
        # polys x <= max_cells); pin the broadcast so Catalyst can never pick
        # the points side as the build side (observed at small sf: the scan
        # size estimate made it broadcast the exploded POINTS — harmless at
        # 15k rows, catastrophic at 10^12)
        covers = F.broadcast(covers)
    res_rows = sorted(int(r) for r in res_rows)
    if not res_rows:  # no polygons -> empty result with the contract schema
        fields = {f.name: f.dataType.simpleString() for f in points.schema.fields}
        return points.sparkSession.createDataFrame(
            [],
            f"`{point_id}` {fields[point_id]}, poly_id string, "
            f"`{lon}` {fields[lon]}, `{lat}` {fields[lat]}",
        )

    # encode-parallelism guard (same rationale as covers_df): a compact or
    # single-row-group parquet read arrives as 1-2 splits and would run the
    # python cell encode on 1-2 cores; only ever RAISES parallelism, so a
    # 100 TB scan with thousands of splits passes through untouched
    pts = fan_out(pts)
    # ONE scan, one fused UDF, one join: all needed resolutions are encoded
    # in a single python pass sharing one sphere projection, exploded to
    # (res, cell) rows (x len(res_rows), narrow), and joined on (res, cell).
    # The old per-res loop rescanned the points table once per resolution.
    pts_r = (
        pts.select(
            point_id, lon, lat,
            F.posexplode(multi_res_cells(F.col(lat), F.col(lon), res_rows)).alias("_pos", "cell"),
        )
        .withColumn(
            "res", F.element_at(F.array(*[F.lit(r) for r in res_rows]), F.col("_pos") + 1).cast("int")
        )
        .drop("_pos")
    )
    if salt_factor > 0:
        salt = F.pmod(F.xxhash64(F.col(point_id)), F.lit(salt_factor))
        pts_r = pts_r.withColumn("salt", salt)
        covers = covers.withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(salt_factor - 1))))
        joined = pts_r.join(covers, ["res", "cell", "salt"], "inner")
    else:
        joined = pts_r.join(covers, ["res", "cell"], "inner")
    return joined.filter(bbox_refine(lon, lat)).select(point_id, "poly_id", lon, lat)


def pip_ring_join(
    points: DataFrame,
    rings: DataFrame,
    point_id: str = "point_id",
    lon: str = "lon",
    lat: str = "lat",
    res_min: int = 5,
    res_max: int = 9,
    max_cells: int = 2048,
    fixed_res: int | None = None,
) -> DataFrame:
    """Assign each point to every containing GENERAL polygon (ring), not just
    a bbox: cell-cover filter on the ring's bbox, exact even-odd ray-cast
    refine (refine_ring) on the candidates.

    rings: (poly_id, ring_lon: array<double>, ring_lat: array<double>)
    returns (point_id, poly_id)

    Same 100 TB shape as pip_join: ONE point-side scan with all used
    resolutions encoded in one fused Arrow pass, one broadcast join on
    (res, cell). The ring coordinate arrays are broadcast ONCE per polygon
    (joined by poly_id AFTER the cell join) — never replicated across the
    up-to-max_cells cover rows — so the exact refine still runs join-local
    without inflating the broadcast by the cover size. Rings are a dim
    table by contract, so covers are planned driver-side (pure numpy, no
    extra Spark jobs)."""
    spark = points.sparkSession
    # rings are a dim table by contract (their coordinate arrays must
    # broadcast); the bounded probe makes a violated contract an explicit
    # error instead of an unbounded driver collect
    ring_dim_max = DRIVER_DIM_MAX
    rings_pdf = rings.limit(ring_dim_max + 1).toPandas()
    if len(rings_pdf) > ring_dim_max:
        raise ValueError(
            f"pip_ring_join requires a dim-sized rings table (<= {ring_dim_max} "
            f"rows — ring arrays are broadcast); pre-filter or tile the rings"
        )
    if len(rings_pdf) == 0:
        return points.select(point_id).withColumn("poly_id", F.lit(None).cast("string")).filter(F.lit(False))
    # refine_ring keys its vectorized groups by poly_id and ray-casts every
    # group row against the FIRST row's ring arrays — duplicate poly_ids
    # with different geometries (multi-ring polygons) would be silently
    # tested against the wrong ring. One ring per poly_id is the contract;
    # enforce it here rather than corrupt containment downstream.
    if rings_pdf["poly_id"].duplicated().any():
        dups = sorted(rings_pdf.loc[rings_pdf["poly_id"].duplicated(), "poly_id"].unique()[:5])
        raise ValueError(
            f"pip_ring_join requires one ring per poly_id (refine groups by "
            f"poly_id); duplicates: {dups} — split multi-ring polygons into "
            f"distinct poly_ids and union the assignments"
        )
    polys_pdf = rings_pdf.assign(
        west=rings_pdf["ring_lon"].map(min), east=rings_pdf["ring_lon"].map(max),
        south=rings_pdf["ring_lat"].map(min), north=rings_pdf["ring_lat"].map(max),
    )[["poly_id", "west", "south", "east", "north"]]
    cov_pdf = covers_pdf(polys_pdf, res_min, res_max, max_cells, fixed_res)
    # fully_inside means inside the BBOX, not the ring — every candidate
    # goes through the exact refine, so only (poly, res, cell) is kept
    covers = F.broadcast(
        spark.createDataFrame(cov_pdf, COVER_SCHEMA).select("poly_id", "res", "cell")
    )
    res_rows = sorted(int(r) for r in cov_pdf["res"].unique())

    pts_r = (
        points.select(
            point_id, lon, lat,
            F.posexplode(multi_res_cells(F.col(lat), F.col(lon), res_rows)).alias("_pos", "cell"),
        )
        .withColumn(
            "res", F.element_at(F.array(*[F.lit(r) for r in res_rows]), F.col("_pos") + 1).cast("int")
        )
        .drop("_pos")
    )
    return (
        pts_r.join(covers, ["res", "cell"], "inner")
        .join(F.broadcast(rings), "poly_id")  # ring arrays: once per polygon
        .filter(refine_ring(F.col("poly_id"), F.col(lon), F.col(lat), F.col("ring_lon"), F.col("ring_lat")))
        .select(point_id, "poly_id")
    )


def refine_ring(
    poly_id: Column, lon: Column, lat: Column, ring_lon: Column, ring_lat: Column
) -> Column:
    """Exact point-in-polygon for general rings (arrays of coords): even-odd
    ray casting in an Arrow-batched pandas UDF. Used instead of the bbox
    predicate when polygons are true rings, on boundary cells only.

    Fully vectorized: rows are grouped by poly_id via pd.factorize (C, not
    per-row Python — round 2 keyed groups by hashing the full ring arrays
    per row, O(rows x ring_len) Python), and each group is ray-cast in ONE
    numpy broadcast (points x edges). Memory bound: the crossing matrix is
    (group rows in batch) x (ring vertices) float64 — ~8 MB for a 1024-row
    Arrow batch against a 1k-vertex ring; for RINGS with 10^5+ vertices,
    shrink spark.sql.execution.arrow.maxRecordsPerBatch or switch callers
    to applyInPandas keyed by poly_id so each task holds one ring."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BooleanType())
    def _pip(pid: pd.Series, px: pd.Series, py: pd.Series, rx: pd.Series, ry: pd.Series) -> pd.Series:
        out = np.zeros(len(px), dtype=bool)
        pxv = px.to_numpy(dtype=np.float64)
        pyv = py.to_numpy(dtype=np.float64)
        codes, _uniques = pd.factorize(pid, sort=False)
        for g in range(codes.max() + 1 if len(codes) else 0):
            ii = np.nonzero(codes == g)[0]
            xs = np.asarray(rx.iloc[ii[0]], dtype=np.float64)
            ys = np.asarray(ry.iloc[ii[0]], dtype=np.float64)
            x1, y1 = xs, ys
            x2, y2 = np.roll(xs, -1), np.roll(ys, -1)
            X, Y = pxv[ii][:, None], pyv[ii][:, None]
            with np.errstate(divide="ignore", invalid="ignore"):
                crosses = ((y1 > Y) != (y2 > Y)) & (X < (x2 - x1) * (Y - y1) / (y2 - y1) + x1)
            out[ii] = (crosses.sum(axis=1) % 2) == 1
        return pd.Series(out)

    return _pip(poly_id, lon, lat, ring_lon, ring_lat)

"""Point-in-polygon spatial join — the engine's flagship operator.

Semantics = reference ``quick_intersection`` / ``intersection``
(``/root/reference/geoparse/gutils.py:407-529``): inner theta-join on exact
ST_Contains(point, polygon), returning one output row per (point, polygon)
pair.  The reference's R-tree bbox prefilter + exact refine
(``gutils.py:511→517``) becomes the distributed filter/refine plan:

  1. FILTER  — polygons → covering geohash cells at join precision
               (polycell UDF, hole-safe), exploded to (cell, poly) rows;
               points → their cell (pointcell UDF); hash equi-join on cell.
  2. REFINE  — exact even-odd PIP pandas UDF on the candidate pairs.

Strategies (plans.planner picks one):

* ``broadcast`` — polygon side small (reference's quick_intersection case):
  the (cell, poly) relation is broadcast; geometries ride in the refine
  UDF's closure.  Zero shuffle of the point side.
* ``shuffle``   — large-large: both sides exchange on cell; heavy cells
  (megacities — north rule N5) are salted: the point side appends a salt
  from ``pmod(xxhash64(point), s)``, the polygon side replicates each heavy
  (cell, poly) row s ways.  AQE skew-join stays on as backstop.

A point has exactly one cell at the join precision and a polygon's cell set
is deduplicated, so the candidate join produces no duplicate pairs — no
post-join distinct needed (shuffle saved).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import udfs


def polygon_cells(
    polys_df: DataFrame,
    poly_id: str,
    precision: int,
    geometry: str = "geometry",
    keep_geometry: bool = False,
    codes: bool = False,
) -> DataFrame:
    """polycell (G1): polygon side → exploded (cell, poly_id) relation.

    ``keep_geometry`` carries the WKB through the explode so the shuffle
    join can refine without any driver-side geometry collect.  ``codes``
    emits the BIGINT interleaved cell code instead of the base-32 string
    (the join-key form — 8-byte shuffle keys, long-hashing)."""
    if codes:
        fill = udfs.geohash_polyfill_codes_udf(precision, mode="intersects")
    else:
        fill = udfs.geohash_polyfill_udf(precision, mode="intersects")
    cols = [F.col(poly_id), F.explode("__cells").alias("cell")]
    if keep_geometry:
        cols.append(F.col(geometry).alias("__geom"))
    return (
        polys_df.select(poly_id, geometry)
        .withColumn("__cells", fill(F.col(geometry)))
        .select(*cols)
    )


def refine_candidates(
    cand: DataFrame, lon: str, lat: str, out_cols: list, poly_id: str
) -> DataFrame:
    """Exact even-odd PIP refine over (point, cell-matched polygon WKB)
    candidate rows + output projection — the shared tail of pip_join's
    WKB-riding branches (shuffle and degenerate are contractually
    row-identical; keeping the refine in one place keeps them so)."""
    refine = udfs.pip_refine_wkb_udf()
    refined = cand.filter(refine(F.col("__geom"), F.col(lon), F.col(lat)))
    return refined.select(*[F.col(c) for c in out_cols], F.col(poly_id))


# (applicationId, polygon-set digest) → (broadcast cells DataFrame, all_rect)
_BROADCAST_INDEX_MEMO: dict = {}


def _broadcast_join(
    points_df: DataFrame,
    cells: DataFrame,
    all_rect: bool,
    geoms: dict,
    poly_id: str,
    lat: str,
    lon: str,
    precision: int,
    out_cols: list,
) -> DataFrame:
    """Probe side of the broadcast strategy (see pip_join docstring)."""
    pts = points_df.withColumn(
        "__cellc", udfs.geohash_int_col(F.col(lat), F.col(lon), precision)
    )
    cand = pts.join(F.broadcast(cells), pts["__cellc"] == cells["cellc"], "inner")
    if all_rect:
        # rectilinear specialization: PIP ≡ half-open box test (see
        # pip_join docstring) — no Python anywhere in the join
        refined = cand.filter(
            (F.col(lon) >= F.col("__bx0"))
            & (F.col(lon) < F.col("__bx1"))
            & (F.col(lat) >= F.col("__by0"))
            & (F.col(lat) < F.col("__by1"))
        )
    else:
        refine_udf = udfs.pip_refine_udf(geoms)
        bbox_ok = (
            (F.col(lon) >= F.col("__bx0"))
            & (F.col(lon) <= F.col("__bx1"))
            & (F.col(lat) >= F.col("__by0"))
            & (F.col(lat) <= F.col("__by1"))
        )
        # __full rides INTO the UDF: Spark extracts Python UDFs into an
        # ArrowEvalPython node below the Filter, so a when(__full, ...)
        # wrapper would still run the kernel for every candidate; the
        # in-batch mask skips the ring math for interior-cell rows while
        # keeping the probe lineage single-pass (a filter/union split
        # would recompute the point extraction twice).
        refined = cand.filter(
            bbox_ok
            & refine_udf(F.col("__pidx"), F.col(lon), F.col(lat), F.col("__full"))
        )
    return refined.select(*[F.col(c) for c in out_cols], F.col(poly_id))


def pip_join(
    points_df: DataFrame,
    polys_df: DataFrame,
    *,
    poly_id: str = "region_id",
    geometry: str = "geometry",
    lat: str = "lat",
    lon: str = "lon",
    precision: int = 4,
    strategy: str = "broadcast",
    salt: int = 8,
    heavy_cell_rows: int = 100_000,
    point_cols: tuple[str, ...] | None = None,
    refine: str = "auto",
) -> DataFrame:
    """Inner PIP join: rows of points_df × matching poly_id.

    Output: point columns + poly_id.

    ``refine="auto"`` (broadcast strategy): when EVERY polygon is exactly
    its own bbox (geom.polygon_is_rect), the even-odd PIP refine reduces
    algebraically to the half-open box test — the filter stays entirely in
    JVM codegen with zero Python crossings, bit-identical results incl.
    on-edge ties (proof in polygon_is_rect's docstring; parity-tested
    against the kernel path in tests/test_skew_join.py).  Rectilinear
    polygon sets are common at scale (admin bboxes, tile footprints), and
    the planner-free specialization mirrors what Catalyst does for
    constant-foldable expressions.  ``refine="force"`` always runs the
    exact kernel refine (the general path; used by the driver's `pip_join`
    query so the Arrow refine stays oracle-exercised)."""
    out_cols = list(point_cols) if point_cols else [c for c in points_df.columns]

    if strategy == "broadcast":
        # small polygon side by contract: the (cell, poly) index is built
        # DRIVER-side with the local numpy kernels (exactly the reference's
        # quick_intersection R-tree build, gutils.py:463) and broadcast;
        # geometries ship once per executor in the refine UDF's closure.
        # Building locally avoids a 1-task Spark job (polyfill UDF over the
        # tiny polygon table) inside every action's broadcast build.
        #
        # The probe (point) side never leaves JVM codegen until the refine:
        # its cell is the BIGINT interleaved code (geohash_int_col), the
        # broadcast rows carry an int polygon index + the polygon bbox +
        # a per-cell "fully inside" flag, so
        #   * bbox reject happens as a plain JVM conjunct (the reference's
        #     R-tree bbox prefilter, gutils.py:511),
        #   * interior-cell candidates skip the PIP ring math via an
        #     in-batch mask inside the Arrow UDF (rect_fully_inside_polygon
        #     — exact, conservatively false); they still cross Arrow (the
        #     UDF node sits below the Filter) but pay no kernel work,
        #   * candidates carry one int key instead of the poly-id string.
        from ..geo import geohash as gh
        from ..geo import geom as gm
        from ..geo import polyfill as pf

        import hashlib

        import numpy as np

        rows = polys_df.select(poly_id, geometry).collect()
        geoms = {i: bytes(r[geometry]) for i, r in enumerate(rows)}
        spark = polys_df.sparkSession
        # memoize the driver-built broadcast index per (session, polygon
        # set, precision, refine mode): repeated queries over the same
        # polygon table (the common case — bench reruns, multi-query
        # sessions) skip the polyfill + createDataFrame rebuild (~0.8 s
        # driver-serial each).  Keyed by content digest, so a changed
        # polygon set never reuses a stale index.
        dig = hashlib.sha256()
        dig.update(f"{precision}|{refine == 'force'}|{poly_id}|".encode())
        for r in rows:
            # length-framed fields: without framing, ('a', b'\x01XY') and
            # ('a\x01', b'XY') would feed identical byte streams
            pid_b = str(r[poly_id]).encode()
            wkb_b = bytes(r[geometry])
            dig.update(len(pid_b).to_bytes(8, "little"))
            dig.update(pid_b)
            dig.update(len(wkb_b).to_bytes(8, "little"))
            dig.update(wkb_b)
        app_id = spark.sparkContext.applicationId
        memo_key = (app_id, dig.hexdigest())
        # entries from a previous session's applicationId reference dead
        # DataFrames and would otherwise accumulate forever
        stale = [k for k in _BROADCAST_INDEX_MEMO if k[0] != app_id]
        for k in stale:
            del _BROADCAST_INDEX_MEMO[k]
        hit = _BROADCAST_INDEX_MEMO.get(memo_key)
        if hit is not None:
            cells, all_rect = hit
            return _broadcast_join(
                points_df, cells, all_rect, geoms, poly_id, lat, lon,
                precision, out_cols,
            )
        parsed = [gm.parse_wkb(bytes(r[geometry])) for r in rows]
        is_rect = [gm.polygon_is_rect(g) for g in parsed]
        all_rect = refine != "force" and all(is_rect)
        cell_rows = []
        for i, (r, g) in enumerate(zip(rows, parsed)):
            gminx, gminy, gmaxx, gmaxy = gm.bbox(g)
            cells = pf.geohash_polyfill(g, precision, "intersects")
            if len(cells) == 0:
                continue
            codes = gh.cells_to_codes(cells, precision)
            bx0, by0, bx1, by1 = gh.cell_bbox(cells, precision)
            if all_rect:
                # fast path never consults __full — skip the per-cell test
                fulls = np.zeros(len(codes), dtype=bool)
            elif is_rect[i]:
                # rect polygon ≡ half-open box [gminx,gmaxx)×[gminy,gmaxy):
                # a cell is fully inside iff it stays strictly left/below
                # the open max edges (exact, vectorized)
                fulls = (bx0 >= gminx) & (bx1 < gmaxx) & (by0 >= gminy) & (by1 < gmaxy)
            else:
                fulls = np.fromiter(
                    (
                        gm.rect_fully_inside_polygon(x0, y0, x1, y1, g)
                        for x0, y0, x1, y1 in zip(bx0, by0, bx1, by1)
                    ),
                    dtype=bool,
                    count=len(codes),
                )
            for c, full in zip(codes, fulls):
                cell_rows.append(
                    (int(c), i, r[poly_id], bool(full), gminx, gminy, gmaxx, gmaxy)
                )
        id_type = polys_df.schema[poly_id].dataType.simpleString()
        cells = spark.createDataFrame(
            cell_rows,
            f"cellc bigint, __pidx int, `{poly_id}` {id_type}, __full boolean, "
            "__bx0 double, __by0 double, __bx1 double, __by1 double",
        )
        _BROADCAST_INDEX_MEMO[memo_key] = (cells, all_rect)
        return _broadcast_join(
            points_df, cells, all_rect, geoms, poly_id, lat, lon, precision,
            out_cols,
        )
    else:
        # probe side stays in JVM codegen: BIGINT cell code, no Arrow hop
        pts = points_df.withColumn(
            "__cell", udfs.geohash_int_col(F.col(lat), F.col(lon), precision)
        )
        # large-large: NO driver-side geometry collect — the WKB rides the
        # exploded (cell, poly, geom) relation through the shuffle and the
        # refine UDF memoizes parses per executor.  Explicit skew salting
        # (N5): heavy point cells replicate the polygon side `salt` ways.
        cells = polygon_cells(
            polys_df, poly_id, precision, geometry, keep_geometry=True, codes=True
        )
        if salt <= 1:
            # planner said no skew (salt factor 1): pmod(x, 1) == 0 for every
            # row, so the salted plan degenerates algebraically to a plain
            # cell equi-join — skip the heavy-cell histogram, the two
            # broadcast annotate-joins AND the point-side persist (the
            # materialization only pays for itself when the histogram needs
            # a second pass over the points).  Identical rows.  The
            # genuinely-salted plan below is exercised whenever the
            # planner's sampled histogram finds a heavy cell
            # (tests/test_skew_join.py forces that regime).
            cand = pts.join(cells, pts["__cell"] == cells["cell"], "inner")
            return refine_candidates(cand, lon, lat, out_cols, poly_id)
        # the point side feeds the heavy-cell histogram AND the probe join —
        # persist so extraction/encode lineage runs once (at 100 TB this is
        # a disk-backed materialization, the standard two-pass skew pattern);
        # registered with functions.caching so long-lived sessions release it
        from pyspark import StorageLevel

        from ..functions import caching

        pts = caching.track(pts.persist(StorageLevel.MEMORY_AND_DISK))
        heavy = (
            pts.groupBy("__cell")
            .count()
            .filter(F.col("count") > heavy_cell_rows)
            .select(F.col("__cell").alias("cell"), F.lit(True).alias("__heavy"))
        )
        cells_s = (
            cells.join(F.broadcast(heavy), "cell", "left")
            .withColumn(
                "__salts",
                F.when(
                    F.col("__heavy").isNotNull(), F.sequence(F.lit(0), F.lit(salt - 1))
                ).otherwise(F.array(F.lit(0))),
            )
            .select("cell", poly_id, "__geom", F.explode("__salts").alias("__salt"))
        )
        salt_src = out_cols[0] if out_cols else "__cell"
        pts_s = (
            pts.join(F.broadcast(heavy), pts["__cell"] == heavy["cell"], "left")
            .withColumn(
                "__salt",
                F.when(
                    F.col("__heavy").isNotNull(),
                    F.pmod(F.xxhash64(F.col(salt_src)), F.lit(salt)),
                ).otherwise(F.lit(0)),
            )
            .drop("cell", "__heavy")
        )
        cand = pts_s.join(
            cells_s,
            (pts_s["__cell"] == cells_s["cell"]) & (pts_s["__salt"] == cells_s["__salt"]),
            "inner",
        )
        return refine_candidates(cand, lon, lat, out_cols, poly_id)


def pip_join_counts(joined: DataFrame, poly_id: str = "region_id") -> DataFrame:
    """The reference's per-polygon match `counts` side output
    (gutils.py:459,528) — partial+final agg, Catalyst-automatic."""
    return joined.groupBy(poly_id).agg(F.count(F.lit(1)).alias("n_points"))

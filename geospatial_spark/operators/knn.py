"""kNN join via cell-ring expansion (N2, SURVEY §2.6) + broadcast brute
force for small neighbor sets.

The reference has no kNN; the north star names "kNN via cell-ring
expansion".  Two physical strategies:

* ``knn_join_broadcast`` — neighbor side tiny (e.g. a gazetteer): ship the
  neighbor arrays in a vectorized pandas-UDF closure, compute the
  haversine matrix per Arrow batch, top-k by argpartition.  Exact, zero
  shuffle.
* ``knn_join_cellring_adaptive`` — large-large: key both sides by geohash
  cell at a chosen precision (``plans.planner.choose_knn_params`` derives
  it and the first ring from the neighbor count), join each point to the
  neighbors in its Chebyshev cell ring, exact haversine re-rank with a
  window ``row_number() <= k``; points whose k-th candidate is not
  provably nearest escalate to the next ring, and the rest fall back to
  an exact broadcast rank.  The ring join is a hash left join on cell
  after exploding the query side's ring cells (``_ring_join``).  The
  whole escalation is one lazy plan in which each point flows through
  one lineage: a round's unsatisfied points are its own rank-1 rows, and
  nothing is checkpointed, persisted or counted between rounds.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, StringType, StructField, StructType

from ..functions import udfs
from ..geo import distance as dist


def knn_join_broadcast(
    points_df: DataFrame,
    neighbors: list[tuple[str, float, float]],
    k: int = 5,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """points × k nearest of `neighbors` [(name, lat, lon), ...].

    Output: point columns + (neighbor_name, rank 1-based, dist_m).
    Deterministic tie-break: (dist, name).
    """
    names = np.array([n for n, _, _ in neighbors], dtype=object)
    nlat = np.array([a for _, a, _ in neighbors], dtype=np.float64)
    nlon = np.array([o for _, _, o in neighbors], dtype=np.float64)
    # pre-sort by name so equal distances resolve by name order stably
    order = np.argsort(names)
    names, nlat, nlon = names[order], nlat[order], nlon[order]
    kk = min(k, len(names))

    # one struct of two rank-ordered arrays per point, built fully
    # vectorized (argpartition → per-row lexsort; no per-row Python); the
    # (name, rank, dist) explode happens JVM-side via posexplode over
    # arrays_zip, so the point's other columns never cross Arrow
    schema = StructType(
        [
            StructField("names", ArrayType(StringType())),
            StructField("dists", ArrayType(DoubleType())),
        ]
    )

    @pandas_udf(schema)
    def _topk(plat: pd.Series, plon: pd.Series) -> pd.DataFrame:
        la = plat.to_numpy()[:, None]
        lo = plon.to_numpy()[:, None]
        d = dist.haversine(la, lo, nlat[None, :], nlon[None, :])  # (n, m)
        part = (
            np.argpartition(d, kk - 1, axis=1)[:, :kk]
            if kk < d.shape[1]
            else np.broadcast_to(np.arange(kk), (d.shape[0], kk))
        )
        d_part = np.take_along_axis(d, part, axis=1)
        name_part = names[part]
        ord_ = np.lexsort((name_part, d_part), axis=1)  # (dist, name) tie-break
        top_d = np.take_along_axis(d_part, ord_, axis=1)
        top_n = np.take_along_axis(name_part, ord_, axis=1)
        return pd.DataFrame(
            {"names": list(top_n), "dists": list(top_d)}
        )

    zipped = F.arrays_zip(
        F.col("__s.names").alias("names"), F.col("__s.dists").alias("dists")
    )
    return (
        points_df.withColumn("__s", _topk(F.col(lat), F.col(lon)))
        .select(
            *[c for c in points_df.columns],
            F.posexplode(zipped).alias("__pos", "__e"),
        )
        .select(
            *[c for c in points_df.columns],
            F.col("__e.names").alias("neighbor_name"),
            (F.col("__pos") + 1).cast("int").alias("rank"),
            F.col("__e.dists").alias("dist_m"),
        )
    )


def knn_join_cellring_adaptive(
    points_df: DataFrame,
    neighbors_df: DataFrame,
    k: int = 5,
    precision: int = 2,
    rings: tuple[int, ...] = (3, 7, 15),
    lat: str = "lat",
    lon: str = "lon",
    n_lat: str = "lat",
    n_lon: str = "lon",
    name: str = "name",
    broadcast_neighbors: bool = False,
) -> DataFrame:
    """EXACT kNN via per-point adaptive ring escalation — SURVEY §2.6 N2's
    iterative design (round-3 review item 2: one global ring is either
    wasteful in dense areas or incomplete in sparse ones at 100× skew).

    Round r joins the still-unsatisfied points against neighbors within
    Chebyshev ring ``rings[r]`` on the geohash integer grid (the pure-JVM
    ``_ring_join``), ranks by exact haversine, and
    KEEPS a point iff its k-th candidate provably beats every neighbor
    outside the ring: ``kth_dist < g(ring, lat)`` where the guarantee
    radius is the conservative lower bound on the distance from the point
    to anything outside the ring block,

        g = R · min( ring · s_lat,
                     asin( cos(φ_p) · sin(min(ring · s_lon, π/2)) ) )

    (s_lat = π/NJ, s_lon = 2π/NI rad per cell).  Any outside neighbor is
    outside in latitude (|Δlat| > ring·s_lat → central angle ≥ |Δlat|) or
    outside in longitude (circular |Δlon| > ring·s_lon).  For the lon
    case the bound is the exact great-circle distance from the point to
    the meridian plane at lon offset Δ0 = ring·s_lon (sin d = cos φ_p ·
    sin Δ0, valid for Δ0 ≤ π/2): the lon-sep ≥ Δ0 region is a lune whose
    boundary meridians the geodesic must cross, so EVERY such neighbor —
    at ANY latitude, poles included — is at least that far.  For
    Δ0 > π/2 the lune shrinks inside the Δ0 = π/2 one, so Δ0 clamps at
    π/2 (the bound saturates at R·asin(cos φ_p): near-pole points whose
    k-th neighbor is farther than the local parallel circle radius
    legitimately fall through to the exact tail).  Unsatisfied points
    re-join at the next, wider ring
    (only the remainder — dense-area points exit at ring 1 cost, sparse
    ones pay more); whatever survives every ring falls back to an exact
    broadcast cross-join rank (the remainder is the provably-hard tail:
    points whose k-th neighbor is beyond the widest ring).

    Output = exact global kNN (same relation as a brute-force cross join
    + rank, ties broken (dist, name)), verified per-point on a
    density-skewed fixture in tests/test_knn_adaptive.py.

    Precondition: the rows of ``points_df`` are distinct on their columns
    (the rank window partitions by every point column, so two equal rows
    would be one point with doubled candidates).

    One lazy plan, one lineage per point: building the frame runs no
    Spark job.  A round's unsatisfied points are its own rank-1 rows
    (``_ring_join`` keeps one unmatched own-cell row for a point with no
    candidate, so every point of the round reaches its window), never an
    anti-join against the input; the satisfied and the unsatisfied branch
    share the window's shuffle through exchange reuse, so nothing is
    persisted, checkpointed or counted on the driver.  ``rank <= k`` is
    filtered BEFORE the satisfaction window: Spark then plans a
    WindowGroupLimit and shuffles at most k rows per point (stats over the
    unfiltered window would shuffle every candidate row).  The 1 µm guarantee margin absorbs float
    noise (distances are ≥ mm-scale apart or exactly equal — both engines
    share the formula)."""
    import math
    from functools import reduce

    from ..geo import geohash as gh

    lon_bits, lat_bits = gh._bits(precision)
    NI, NJ = 1 << lon_bits, 1 << lat_bits
    point_cols = list(points_df.columns)
    out_cols = [*point_cols, "neighbor_name", "rank", "dist_m"]
    s_lat = math.pi / NJ
    s_lon = 2.0 * math.pi / NI
    R = dist.EARTH_RADIUS_M

    # validate precision/ring compatibility UP FRONT (round-4 advice): a
    # ring spanning the lon circle has no outside-in-lon bound, and if the
    # FIRST ring already spanned it the old loop broke with zero rounds
    # run — sending the ENTIRE point set into the broadcast tail, a
    # driver blow-up on large point relations.  Too-wide trailing rings
    # are trimmed (the tail covers what they would have); an all-invalid
    # ladder is a caller error.
    rings = tuple(r for r in rings if NI > 2 * r + 1)
    if not rings:
        raise ValueError(
            f"every ring spans the longitude grid (NI={NI}) at precision "
            f"{precision}: raise precision or shrink the rings"
        )

    nb = neighbors_df.select(
        F.col(name).alias("neighbor_name"),
        F.col(n_lat).alias("__nlat"),
        F.col(n_lon).alias("__nlon"),
    )
    # NULLS LAST: a point's unmatched own-cell row ranks after every real
    # candidate
    w = Window.partitionBy(*point_cols).orderBy(
        F.col("dist_m").asc_nulls_last(), F.col("neighbor_name").asc()
    )
    # satisfaction stats share the rank window's partitioning AND
    # ordering (full-partition frame) — WindowExec appends them to the
    # same sorted pass, zero extra Exchange or Sort
    wu = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

    def _ranked(cand: DataFrame) -> DataFrame:
        return cand.withColumn(
            "dist_m",
            udfs.haversine_col(F.col(lat), F.col(lon), F.col("__nlat"), F.col("__nlon")),
        ).withColumn("rank", F.row_number().over(w))

    parts: list[DataFrame] = []
    todo = points_df
    for ring in rings:
        g = F.lit(R) * F.least(
            F.lit(ring * s_lat),
            F.asin(
                F.cos(F.radians(F.col(lat)))
                * F.lit(math.sin(min(ring * s_lon, math.pi / 2.0)))
            ),
        )
        ok = (F.count("__nb").over(wu) >= k) & (F.max("dist_m").over(wu) < g - F.lit(1e-6))
        # a NULL coordinate (NULL distances, NULL g) is unsatisfied, not lost
        ok = F.coalesce(ok, F.lit(False))
        scored = (
            _ranked(_ring_join(todo, nb, precision, ring, lat, lon, broadcast_nb=broadcast_neighbors))
            .filter(F.col("rank") <= k)
            .withColumn("__ok", ok)
        )
        parts.append(scored.filter(F.col("__ok")).select(*out_cols))
        todo = scored.filter(~F.col("__ok") & (F.col("rank") == 1)).select(*point_cols)
    # exact fallback for the hard tail — same JVM haversine + tie-break, so
    # the union is seamless.  Broadcast side (round-4 advice): when the
    # caller attested the NEIGHBOR side small (broadcast_neighbors, e.g.
    # the planner counted it), broadcast that — the remainder's size is
    # then irrelevant.  Otherwise broadcast the remainder, which is small
    # BY CONSTRUCTION of the (validated, ≥1-round) ring ladder: only points
    # whose k-th neighbor outdistances the widest ring's guarantee radius.
    if broadcast_neighbors:
        fb = _ranked(todo.crossJoin(F.broadcast(nb)))
    else:
        fb = _ranked(F.broadcast(todo).crossJoin(nb))
    parts.append(fb.filter(F.col("rank") <= k).select(*out_cols))
    return reduce(DataFrame.unionByName, parts)


def _ring_join(
    points_df: DataFrame,
    nb: DataFrame,
    precision: int,
    max_ring: int,
    lat: str,
    lon: str,
    broadcast_nb: bool = False,
) -> DataFrame:
    """Grid-quantized Chebyshev-ring candidate join (the pure-JVM core of
    every adaptive kNN round): explode each point to its (2·ring+1)² ring
    cells on the geohash integer grid (lon wrap via pmod, lat cut at the
    poles), LEFT join on the BIGINT grid id.  ``nb`` must carry
    (neighbor_name, __nlat, __nlon); the caller has already checked that
    the ring does not span the longitude grid.

    Every candidate row carries the marker ``__nb`` = TRUE; the join keeps
    exactly one unmatched row per point, for its own cell, with ``__nb``
    (and the neighbor columns) NULL — so a point with no candidate still
    reaches the caller's window and escalates.  Count candidates by ``__nb``, never by ``neighbor_name``:
    a neighbor whose name is NULL is a candidate.

    ``broadcast_nb``: hint the neighbor side broadcast.  This matters
    because a ``createDataFrame``-backed neighbor relation is an
    ExistingRDD with UNKNOWN size stats — Catalyst defaults it to
    Long.Max and plans a SortMergeJoin that shuffles the EXPLODED
    (2·ring+1)²-per-point probe relation, the single worst shuffle this
    operator can emit at scale.  Callers that know the neighbor side is
    small (the planner counts it) must pass True; large-large callers
    keep the keyed shuffle, which is then the correct plan."""
    from ..geo import geohash as gh

    lon_bits, lat_bits = gh._bits(precision)
    NI, NJ = 1 << lon_bits, 1 << lat_bits

    def _q(col, off: float, span: float, n: int):
        return F.least(
            F.lit(n - 1),
            F.greatest(F.lit(0), F.floor((col + off) / span * float(n))),
        ).cast("long")

    # two sequence-explodes, not one (2·ring+1)² literal struct array: a
    # wide ring's literal array (961 structs at ring 15) is a whole-stage
    # codegen compile bomb — measured ~10 s for a 3k-row round at sf0.1,
    # dominated by compilation, vs ~1 s with sequence()
    pts = (
        points_df.withColumn("__qx", _q(F.col(lon), 180.0, 360.0, NI))
        .withColumn("__qy", _q(F.col(lat), 90.0, 180.0, NJ))
        .withColumn(
            "__dj", F.explode(F.sequence(F.lit(-max_ring), F.lit(max_ring)))
        )
        .withColumn("__nqy", F.col("__qy") + F.col("__dj"))
        .filter((F.col("__nqy") >= 0) & (F.col("__nqy") < NJ))
        .withColumn(
            "__di", F.explode(F.sequence(F.lit(-max_ring), F.lit(max_ring)))
        )
        .withColumn(
            "__probe",
            F.pmod(F.col("__qx") + F.col("__di"), F.lit(NI)) * NJ + F.col("__nqy"),
        )
    )
    nbp = nb.withColumn(
        "__probe",
        _q(F.col("__nlon"), 180.0, 360.0, NI) * NJ + _q(F.col("__nlat"), 90.0, 180.0, NJ),
    ).withColumn("__nb", F.lit(True))
    if broadcast_nb:
        nbp = F.broadcast(nbp)
    return (
        pts.join(nbp, "__probe", "left")
        .filter(F.col("__nb") | ((F.col("__di") == 0) & (F.col("__dj") == 0)))
        .drop("__probe", "__di", "__dj", "__qx", "__qy", "__nqy")
    )

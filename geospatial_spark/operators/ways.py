"""OSM-style ways: node-list → geometry classification + map-matching snap.

Reference parity:
* O1 ``ways_to_geom`` (``/root/reference/geoparse/osm.py:92-108``): a way is
  a Polygon iff its first and last node coincide, else a LineString.  The
  reference's batch variant decides from the FIRST way only (osm.py:98,104)
  — a bug we fix by deciding per way.  The Overpass HTTP source is replaced
  by a deterministic fixture (SURVEY §2.5).
* O3 ``map_matching`` (``osm.py:166-215``): the reference snaps GPS traces
  to the road network via an external HTTP service; the Spark-native
  approximation is a kNN (k=1) join of trace points against the way-node
  set — exactly the nearest-road-snap semantics, minus the HMM transition
  model the remote service owns.

The ways table is modeled as ``(way_id, coords array<struct<lon,lat>>)`` —
the real OSM shape — so classification compares ACTUAL first/last array
elements (``element_at(coords, 1)`` vs ``element_at(coords, -1)``), not a
derived tautology.

Scale notes: classification is pure per-row column math (no shuffle beyond
the fixture build); the snap join is the cell-ring kNN equi-join — one
shuffle keyed by probe cell, AQE-splittable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def ways_table(spark: SparkSession) -> DataFrame:
    """Fixture ways with REAL coordinate arrays.

    * region ways (way_id = region_idx): the 5-vertex closed rectangle ring
      of each region polygon — first == last by construction of the data.
    * trajectory ways (way_id = 1000 + traj): the gazetteer's 10-point
      trajectories in index order — open lines.
    """
    from ..sources import pages as src

    regions = src.regions(spark)
    vertex = lambda x, y: F.struct(F.col(x).alias("lon"), F.col(y).alias("lat"))
    region_ways = regions.select(
        F.col("region_idx").alias("way_id"),
        F.array(
            vertex("minx", "miny"),
            vertex("maxx", "miny"),
            vertex("maxx", "maxy"),
            vertex("minx", "maxy"),
            vertex("minx", "miny"),
        ).alias("coords"),
    )
    gaz = src.gazetteer(spark)
    # array_sort on struct(idx, ...) orders by idx (unique) — the HOF
    # transform then strips the sort key; tiny table (276 rows), so the
    # interpreted-lambda cost is irrelevant here.
    traj_ways = (
        gaz.groupBy((F.col("idx") / 10).cast("bigint").alias("traj"))
        .agg(F.array_sort(F.collect_list(F.struct("idx", "lon", "lat"))).alias("s"))
        .select(
            (F.col("traj") + 1000).alias("way_id"),
            F.transform(
                "s", lambda x: F.struct(x["lon"].alias("lon"), x["lat"].alias("lat"))
            ).alias("coords"),
        )
    )
    return region_ways.unionByName(traj_ways)


def ways_classify(ways_df: DataFrame) -> DataFrame:
    """Per-way Polygon/LineString decision from the actual ring closure.

    Output carries the compared endpoints so the oracle check exercises the
    real array machinery, not just the boolean."""
    first = F.element_at("coords", 1)
    last = F.element_at("coords", -1)
    is_closed = (first["lon"] == last["lon"]) & (first["lat"] == last["lat"])
    return ways_df.select(
        "way_id",
        F.size("coords").cast("bigint").alias("n_points"),
        is_closed.alias("is_closed"),
        first["lon"].alias("first_lon"),
        first["lat"].alias("first_lat"),
        last["lon"].alias("last_lon"),
        last["lat"].alias("last_lat"),
        F.when(is_closed, "polygon").otherwise("linestring").alias("kind"),
    )


def map_match_snap(
    trace_df: DataFrame,
    ways_nodes_df: DataFrame,
    *,
    trace_cols: tuple[str, ...] = ("traj_id", "seq"),
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """O3 approximation: snap each trace point to its nearest way node.

    Exact nearest over the node set via a broadcast-able cross join + window
    rank (node fixture is small); on a 100 TB trace table the identical
    semantics run through ``map_match_cellring`` below — this entry point
    keeps the oracle-expressible exact form.  Tie-break: (dist, way_id,
    node_seq).  The snap distance surfaces as ``dist_mm = floor(dist_m *
    1000 + 0.5)`` exact bigint — round(double, 3) is NOT engine-portable
    (Spark rounds the shortest decimal repr HALF_UP, DuckDB scales the
    binary double; round-2 advice), integer floor of identical doubles is.
    """
    from ..functions import udfs

    nodes = ways_nodes_df.select(
        F.col("way_id").alias("snap_way"),
        F.col("node_seq").alias("snap_seq"),
        F.col("lat").alias("__nlat"),
        F.col("lon").alias("__nlon"),
    )
    cand = trace_df.crossJoin(F.broadcast(nodes))
    cand = cand.withColumn(
        "dist_m",
        udfs.haversine_col(F.col(lat), F.col(lon), F.col("__nlat"), F.col("__nlon")),
    )
    w = Window.partitionBy(*[F.col(c) for c in trace_cols]).orderBy(
        F.col("dist_m").asc(), F.col("snap_way").asc(), F.col("snap_seq").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") == 1)
        .select(
            *trace_cols,
            "snap_way",
            "snap_seq",
            F.floor(F.col("dist_m") * 1000 + F.lit(0.5)).cast("bigint").alias("dist_mm"),
        )
    )


def map_match_cellring(
    trace_df: DataFrame,
    ways_nodes_df: DataFrame,
    *,
    trace_cols: tuple[str, ...] = ("traj_id", "seq"),
    lat: str = "lat",
    lon: str = "lon",
    precision: int = 2,
    max_ring: int = 3,
    broadcast_nodes: bool = False,
) -> DataFrame:
    """O3 at scale: the SAME snap semantics as ``map_match_snap`` routed
    through the exact cell-ring kNN (``knn.knn_join_cellring_adaptive``,
    k=1, one ring of ``max_ring`` cells) — no cross join, one shuffle keyed
    by probe cell.  Registered as a driver query that must agree exactly
    with the broadcast snap AND its oracle (round-2 review: the scale path
    was never exercised *as map matching*).

    Node identity rides as a zero-padded sortable key so the cell-ring
    tie-break (dist, key) equals the exact path's (dist, way_id, node_seq).
    A trace point whose nearest node is not provably inside the ring falls
    through to the adaptive path's exact broadcast tail, so the snap is
    exact at any ring; traces decoded from the ways' own geometry (snap
    distance ≈ e6 quantization, ≪ one precision-2 cell) all resolve in the
    ring."""
    from . import knn as knn_ops

    nodes = ways_nodes_df.select(
        F.concat(
            F.lpad(F.col("way_id").cast("string"), 8, "0"),
            F.lit("-"),
            F.lpad(F.col("node_seq").cast("string"), 6, "0"),
        ).alias("name"),
        F.col("lat"),
        F.col("lon"),
    )
    out = knn_ops.knn_join_cellring_adaptive(
        trace_df, nodes, k=1, precision=precision, rings=(max_ring,),
        lat=lat, lon=lon, broadcast_neighbors=broadcast_nodes,
    )
    key = F.split(F.col("neighbor_name"), "-")
    return out.select(
        *trace_cols,
        key.getItem(0).cast("bigint").alias("snap_way"),
        key.getItem(1).cast("int").alias("snap_seq"),
        F.floor(F.col("dist_m") * 1000 + F.lit(0.5)).cast("bigint").alias("dist_mm"),
    )


def ways_nodes(ways_df: DataFrame) -> DataFrame:
    """Explode ways into (way_id, node_seq, lon, lat) — the snap target."""
    return ways_df.select(
        "way_id", F.posexplode("coords").alias("node_seq", "p")
    ).select(
        "way_id",
        F.col("node_seq").cast("int").alias("node_seq"),
        F.col("p.lon").alias("lon"),
        F.col("p.lat").alias("lat"),
    )

"""Distributed cell-hierarchy compaction / expansion (reference G4/G5,
``/root/reference/geoparse/gindex.py:335-455``) as iterative DataFrame
algebra — the Spark-native replacement for the reference's driver-side
Counter loop.

Per round (bounded by max resolution, ≤ 12 geohash / ≤ 30 S2):
  parent = prefix/bit-math column expr (JVM) →
  groupBy(parent).count() → full families (32 geohash / 4 S2 children)
  promote to parent, left-anti demote the rest.

Each round is one partial-aggregatable shuffle on the parent key; rounds
terminate early when no family is complete (driver checks a count).  Cell
sets are persisted per round and unpersisted after — lineage stays bounded.

The local numpy twins in ``geo/compact.py`` are the test oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo.geohash import BASE32


def compact_geohash_df(cells: DataFrame, col: str = "cell") -> DataFrame:
    """Roll complete 32-child sibling families up, bottom-up.  Input may mix
    precisions; output is the minimal covering set (gindex.py:379-406)."""
    cur = cells.select(F.col(col).alias("cell")).distinct().persist()
    max_res = cur.agg(F.max(F.length("cell"))).collect()[0][0] or 0
    for res in range(max_res, 1, -1):
        at = cur.filter(F.length("cell") == res)
        full = (
            at.groupBy(F.substring("cell", 1, res - 1).alias("parent"))
            .count()
            .filter(F.col("count") == 32)
            .select("parent")
        )
        n_full = full.persist().count()
        if n_full == 0:
            full.unpersist()
            continue
        demoted = at.join(
            full.withColumnRenamed("parent", "p"),
            F.substring(at["cell"], 1, res - 1) == F.col("p"),
            "left_anti",
        )
        nxt = (
            cur.filter(F.length("cell") != res)
            .unionByName(demoted.select("cell"))
            .unionByName(full.select(F.col("parent").alias("cell")))
            .persist()
        )
        nxt.count()
        cur.unpersist()
        full.unpersist()
        cur = nxt
    from ..functions import caching

    # the returned set stays persisted (callers usually reuse it at least
    # once); track it so release_all() reclaims the block — otherwise every
    # invocation in a long-lived session leaks one cached cell set
    return caching.track(cur)


def uncompact_geohash_df(cells: DataFrame, precision: int, col: str = "cell") -> DataFrame:
    """Expand every cell to `precision` (inverse of compact; gindex.py:414+
    semantics for geohash).  Each round multiplies only the coarse subset by
    32 (explode) — finer-than-target input is an error upstream.  Per-round
    persists are released once the next round materializes (a long-lived
    session otherwise accumulates one cached round per level)."""
    cur = cells.select(F.col(col).alias("cell")).distinct()
    children = F.array(*[F.lit(c) for c in BASE32])
    prev = None
    for _ in range(precision - 1):
        cur = cur.persist()
        n_coarse = cur.filter(F.length("cell") < precision).count()
        if prev is not None:
            prev.unpersist()
        prev = cur
        if n_coarse == 0:
            break
        coarse = cur.filter(F.length("cell") < precision)
        done = cur.filter(F.length("cell") >= precision)
        expanded = coarse.select(
            F.explode(
                F.transform(children, lambda c: F.concat(F.col("cell"), c))
            ).alias("cell")
        )
        cur = done.unionByName(expanded)
    out = cur.distinct()
    if prev is not None:
        from ..functions import caching

        caching.track(prev)  # released by the caller via caching.release_all
    return out


def _s2_lsb(c: F.Column) -> F.Column:
    return c.bitwiseAND(-c)


def compact_s2_df(cells: DataFrame, col: str = "cell_id") -> DataFrame:
    """S2 compaction: 4 children per parent; parent id via pure bit math
    (JVM columns):  nl = lsb<<2;  parent = (id & ~(nl*2 - 1)) | nl.

    Only levels actually PRESENT in the input run a round (one tiny
    distinct-lsb agg up front; promotions add their parent level) — the
    blind 30-level sweep cost 30 driver-blocking counts on sparse inputs
    (measured 8× slower on the roundtrip query)."""
    cur = cells.select(F.col(col).cast("bigint").alias("cell_id")).distinct().persist()
    # S2 level from lsb: level = 30 - (trailing zero count / 2); iterate by
    # filtering on lsb value directly (level ↔ lsb bijection)
    present = {
        int(r[0])
        for r in cur.select(
            F.col("cell_id").bitwiseAND(-F.col("cell_id")).alias("lsb")
        )
        .distinct()
        .collect()
    }
    max_level = 30
    for lvl in range(max_level, 0, -1):
        lsb = 1 << (2 * (30 - lvl))
        if lsb not in present:
            continue
        at = cur.filter(_s2_lsb(F.col("cell_id")) == lsb)
        nl = lsb << 2
        parent = (
            F.col("cell_id").bitwiseAND(~((nl << 1) - 1)).bitwiseOR(F.lit(nl))
        ).alias("parent")
        full = (
            at.select(parent)
            .groupBy("parent")
            .count()
            .filter(F.col("count") == 4)
            .select("parent")
        )
        n_full = full.persist().count()
        if n_full == 0:
            full.unpersist()
            continue
        demoted = at.join(
            full.withColumnRenamed("parent", "p"),
            F.col("cell_id").bitwiseAND(~((nl << 1) - 1)).bitwiseOR(F.lit(nl))
            == F.col("p"),
            "left_anti",
        )
        nxt = (
            cur.filter(_s2_lsb(F.col("cell_id")) != lsb)
            .unionByName(demoted.select("cell_id"))
            .unionByName(full.select(F.col("parent").alias("cell_id")))
            .persist()
        )
        nxt.count()
        cur.unpersist()
        full.unpersist()
        cur = nxt
        present.add(nl)  # promoted parents live at the next-coarser level
    from ..functions import caching

    # same repeated-invocation leak guard as compact_geohash_df
    return caching.track(cur)


def uncompact_s2_df(cells: DataFrame, level: int, col: str = "cell_id") -> DataFrame:
    """S2 expansion to `level`: children = id + k * (lsb>>2), k ∈
    {-3,-1,1,3} (centers of the 4 quadrants), iterated to the target lsb."""
    cur = cells.select(F.col(col).cast("bigint").alias("cell_id")).distinct()
    target_lsb = 1 << (2 * (30 - level))
    ks = F.array(F.lit(-3), F.lit(-1), F.lit(1), F.lit(3))
    prev = None
    for _ in range(30):
        cur = cur.persist()
        n_coarse = cur.filter(_s2_lsb(F.col("cell_id")) > target_lsb).count()
        if prev is not None:
            prev.unpersist()
        prev = cur
        if n_coarse == 0:
            break
        coarse = cur.filter(_s2_lsb(F.col("cell_id")) > target_lsb)
        done = cur.filter(_s2_lsb(F.col("cell_id")) <= target_lsb)
        nl = F.shiftright(_s2_lsb(F.col("cell_id")), 2)
        expanded = coarse.select(
            F.explode(
                F.transform(ks, lambda k: F.col("cell_id") + k * nl)
            ).alias("cell_id")
        )
        cur = done.unionByName(expanded)
    out = cur.distinct()
    if prev is not None:
        from ..functions import caching

        caching.track(prev)  # released by the caller via caching.release_all
    return out

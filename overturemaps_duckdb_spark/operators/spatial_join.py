"""Spatial joins — SURVEY §2.4 J1-J7.

The reference's joins are all theta joins: a cheap band/bbox prefilter plus
an exact geometric predicate, compiled as SQL by
`/root/reference/src/lib/analysisQueries.js:25-56` (inner/semi/anti) and
`/root/reference/src/lib/pipeline.js:127-165` (within/exclude/intersect with
the bidirectional matched-id union).  DuckDB picks the physical algorithm;
here the *logical* shape is declared so Catalyst/AQE pick it:

- The band condition (`ABS(Δlon)<band AND ABS(Δlat)<band`,
  analysisQueries.js:29) is kept as a **native column join condition**, never
  hidden inside the UDF.  With a broadcastable side Spark plans
  BroadcastNestedLoopJoin with the cheap band residual; at 100 TB the
  same condition feeds :func:`banded_join`'s grid-cell equi-join, which
  shuffles both sides on cell id instead of producing a cartesian.
- The exact `ST_Intersects` / `ST_Distance < d` predicate runs as an
  Arrow-batched pandas UDF **after** the band join has cut candidates.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from overturemaps_duckdb_spark.functions.geo import (
    meters_to_degrees,
    st_distance,
    st_intersects,
)

#: 0.2° (~22 km) band prefilter, analysisQueries.js:29 / pipeline.js:131-132
DEFAULT_BAND_DEG = 0.2

#: Auto-route budget for the broadcast theta-join form, as a product of the
#: two sides' Catalyst size estimates (bytes²).  A broadcast band join is a
#: nested loop: it evaluates ~|A|·|B| candidate pairs no matter how small
#: the broadcast side is, so the routing cost model must be the PRODUCT of
#: the sides, not B's size alone (measured: j1 at sf0.1 grid 1.1 s vs
#: broadcast 3.9 s, at sf1 grid 1.1 s vs broadcast 9.7 s — the grid
#: equi-join's two hash shuffles only lose on interactive micro-tier
#: inputs).  1e8 B² ≈ two ~10 KB sides ≈ the reference's viewport tier.
BNLJ_PAIR_BUDGET_BYTES2 = 100_000_000


def _parse_size_bytes(v: str) -> int:
    """Spark size-conf string ('10485760', '10MB', '-1') → bytes."""
    s = str(v).strip().lower()
    mult = 1
    for suffix, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                      ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                      ("b", 1)):
        if s.endswith(suffix):
            s = s[: -len(suffix)]
            mult = m
            break
    return int(float(s)) * mult


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's own sizeInBytes estimate for the optimized plan — the same
    statistic the planner uses for broadcast decisions.  Driver-side only,
    never triggers a job.  Unknown → 'huge' so the caller assumes
    non-broadcastable (the safe direction at scale)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return 1 << 62


def bnlj_affordable(a: DataFrame, b: DataFrame) -> bool:
    """True when the broadcast nested-loop form of an A×B theta join fits
    the interactive micro tier: B's Catalyst size estimate under
    ``spark.sql.autoBroadcastJoinThreshold`` AND the pair product of both
    sides' estimates inside :data:`BNLJ_PAIR_BUDGET_BYTES2` (a BNLJ
    evaluates ~|A|·|B| candidates regardless of which side broadcasts).
    The shared routing gate for every theta-join family (spatial band,
    numeric interval band)."""
    thr = _parse_size_bytes(
        a.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    )
    return (
        thr > 0
        and _plan_size_bytes(b) <= thr
        and _plan_size_bytes(a) * _plan_size_bytes(b) <= BNLJ_PAIR_BUDGET_BYTES2
    )


def band_condition(
    a: DataFrame, b: DataFrame, band_deg: float = DEFAULT_BAND_DEG
) -> Column:
    """`ABS(a.centroid_lon-b.centroid_lon)<band AND ABS(Δlat)<band` (F6)."""
    return (
        F.abs(a["centroid_lon"] - b["centroid_lon"]) < band_deg
    ) & (F.abs(a["centroid_lat"] - b["centroid_lat"]) < band_deg)


def _exact_predicate(
    a: DataFrame,
    b: DataFrame,
    *,
    predicate: str,
    distance_m: float | None,
    distance_deg: float | None = None,
    assume_points: bool = False,
) -> Column:
    if predicate == "intersects":
        return st_intersects(a["geometry"], b["geometry"])
    if predicate == "within_distance":
        # the pipeline compiler pre-rounds the degree threshold like the
        # reference's (d/111320).toFixed(6) (pipeline.js:128)
        deg = distance_deg if distance_deg is not None else meters_to_degrees(distance_m)
        if assume_points:
            # POINT-POINT distance == centroid distance, and the kernel's
            # point fast path is literally sqrt(dx²+dy²) over the packed
            # doubles (functions/geo.st_distance) — the identical IEEE ops
            # as codegen sqrt here, so swapping the pandas UDF for a native
            # column is bit-exact while keeping the predicate inside
            # whole-stage codegen (no Arrow round-trip per candidate pair).
            dx = a["centroid_lon"] - b["centroid_lon"]
            dy = a["centroid_lat"] - b["centroid_lat"]
            return F.sqrt(dx * dx + dy * dy) < deg
        return st_distance(a["geometry"], b["geometry"]) < deg
    raise ValueError(f"unknown predicate {predicate!r}")


def spatial_join(
    a: DataFrame,
    b: DataFrame,
    *,
    how: str = "inner",
    predicate: str = "intersects",
    distance_m: float | None = None,
    distance_deg: float | None = None,
    band_deg: float = DEFAULT_BAND_DEG,
    exclude_self: bool = False,
    broadcast_b: bool | None = None,
    assume_points: bool = False,
) -> DataFrame:
    """J1/J2/J3: inner (`intersect`), left_semi (`within`), left_anti
    (`exclude`) theta join of two cached theme tables.

    Mirrors analysisQueries.js:25-37: band prefilter + exact predicate [+
    `base.id != b.id` self-guard, pipeline.js:130].

    Physical shape: only the **native** band condition is the join condition
    (Spark cannot evaluate Python UDFs inside semi/anti join conditions, and
    keeping the UDF out of the condition lets Catalyst plan the join from
    statistics alone).  The exact geometric predicate runs as a post-join
    filter over the banded candidate set; semi/anti are derived from the
    matched-id set of the filtered inner join.

    `broadcast_b`: None (default) auto-routes on a nested-loop cost model —
    the broadcast theta join evaluates ~|A|·|B| band candidates, so it is
    chosen only while BOTH (i) B's Catalyst size estimate fits
    spark.sql.autoBroadcastJoinThreshold and (ii) the PRODUCT of the two
    sides' size estimates stays inside :data:`BNLJ_PAIR_BUDGET_BYTES2`
    (the interactive micro tier).  Everything larger takes the grid-cell
    equi-join (:func:`spatial_join_grid`), which shuffles both sides on
    cell id instead of degenerating to a quadratic nested loop.  True
    forces the broadcast form, False forces the grid form; results are
    identical either way (pytest-asserted).

    PRECONDITION for semi/anti: `a.id` identifies rows uniquely (the
    Overture GERS contract).  The exact predicate is a Python UDF, which
    Spark cannot evaluate inside a semi/anti join condition — so matched
    ids are collected from the inner form and re-joined (null-safely: a
    lone NULL id round-trips correctly; rows SHARING an id cannot be
    distinguished by any id-based shape).
    """
    if broadcast_b is None:
        broadcast_b = bnlj_affordable(a, b)
    if not broadcast_b:
        return spatial_join_grid(
            a, b, how=how, predicate=predicate, distance_m=distance_m,
            distance_deg=distance_deg, band_deg=band_deg,
            exclude_self=exclude_self, assume_points=assume_points,
        )
    cond = band_condition(a, b, band_deg)
    if exclude_self:
        cond = cond & (a["id"] != b["id"])
    rhs = F.broadcast(b)
    exact = _exact_predicate(
        a, b, predicate=predicate, distance_m=distance_m,
        distance_deg=distance_deg, assume_points=assume_points,
    )
    if how == "inner":
        return a.join(rhs, cond, "inner").where(exact)
    if how in ("left_semi", "left_anti"):
        matched = (
            a.join(rhs, cond, "inner")
            .where(exact)
            .select(a["id"].alias("_mid"))
            .distinct()
        )
        return a.join(F.broadcast(matched), a["id"].eqNullSafe(matched["_mid"]), how)
    raise ValueError(f"unsupported join type {how!r}")


def bidirectional_match_ids(
    base: DataFrame,
    other: DataFrame,
    *,
    predicate: str = "within_distance",
    distance_m: float = 250.0,
    distance_deg: float | None = None,
    band_deg: float = DEFAULT_BAND_DEG,
    exclude_self: bool = False,
    impl: str = "broadcast",
    assume_points: bool = False,
) -> DataFrame:
    """J4: ids of base rows hitting `other` UNION ids of `other` rows hit by
    base (pipeline.js:141-157).

    The reference compiles two EXISTS probes; both predicates here
    (`within_distance`, `intersects`) are SYMMETRIC, so the two probe sets
    are the two endpoints of ONE matched pair set.  The plan holds one
    pair join and emits both endpoints of each pair with
    ``explode(array(base.id, other.id))`` before the distinct — a union of
    two projections of the pair set would plan the pair join twice.

    `impl`: 'broadcast' (small other side, BroadcastNestedLoop with the band
    residual) or 'grid' (both sides large → grid-cell equi-join, cells
    sized like :func:`spatial_join_grid`'s)."""
    exact = _exact_predicate(
        base, other, predicate=predicate, distance_m=distance_m,
        distance_deg=distance_deg, assume_points=assume_points,
    )
    extra = (base["id"] != other["id"]) if exclude_self else None
    if impl == "broadcast":
        cond = band_condition(base, other, band_deg)
        if extra is not None:
            cond = cond & extra
        pairs = base.join(F.broadcast(other), cond, "inner").where(exact)
    else:
        pairs = banded_join(
            base, other,
            band_deg=_cell_deg(predicate, distance_m, distance_deg, band_deg),
            how="inner", extra_condition=extra,
        ).where(exact)
    return pairs.select(
        F.explode(F.array(base["id"], other["id"])).alias("id")
    ).distinct()


def matched_b_overlay(
    a: DataFrame,
    b: DataFrame,
    *,
    predicate: str = "intersects",
    distance_m: float | None = None,
    band_deg: float = DEFAULT_BAND_DEG,
) -> DataFrame:
    """J5: `SELECT DISTINCT b.* FROM A JOIN B ON ...` (analysisQueries.js:43-56).

    Dedups on ``b.id`` (the GERS unique-id contract, as in
    :func:`spatial_join`'s semi/anti precondition): equivalent to the
    reference's DISTINCT b.* while ids are unique, and the id form keeps
    the shuffle key 8 bytes instead of the full row."""
    return (
        spatial_join(a, b, how="inner", predicate=predicate, distance_m=distance_m,
                     band_deg=band_deg)
        .select(*[b[c] for c in b.columns])
        .dropDuplicates(["id"])
    )


def intersection_fold(
    points: DataFrame,
    polygon_tables: dict[str, DataFrame],
    *,
    band_deg: float = DEFAULT_BAND_DEG,
) -> DataFrame:
    """J6/J7: point-in-polygon pass against every loaded polygon table,
    folded into one `{point id → sorted label list}` map
    (intersections.js:74-109).  The reference loops pairwise in app code and
    folds client-side; here each pair is a join and the fold is a
    `groupBy(id).agg(collect_set)` inside the engine."""
    hits = None
    for label, polys in polygon_tables.items():
        h = (
            spatial_join(points, polys, how="left_semi", predicate="intersects",
                         band_deg=band_deg)
            .select("id")
            .withColumn("label", F.lit(label))
        )
        hits = h if hits is None else hits.unionByName(h)
    if hits is None:
        raise ValueError("no polygon tables supplied")
    return hits.groupBy("id").agg(
        F.array_join(F.sort_array(F.collect_set("label")), ",").alias("labels")
    )


# ---------------------------------------------------------------------------
# Scale path: grid-cell banded join (no broadcast side needed)
# ---------------------------------------------------------------------------


def banded_join(
    a: DataFrame,
    b: DataFrame,
    *,
    band_deg: float = DEFAULT_BAND_DEG,
    how: str = "inner",
    extra_condition: Column | None = None,
    hot_cell_threshold: int | None = None,
    n_salts: int = 8,
) -> DataFrame:
    """Equi-join on spatial grid cells — the 100 TB form of the band join.

    A pure theta band join degenerates to nested-loop when neither side fits
    in memory.  Discretizing both sides onto a `band_deg`-sized grid and
    replicating `a` to its 3×3 cell neighborhood turns the band condition
    into a shuffle **equi-join on cell id** (co-partitioned, AQE-skew-safe),
    with the exact band residual applied after.  Replication factor is a
    constant 9; at moderate skew AQE's skew-join splitting keeps partitions
    balanced.

    `hot_cell_threshold`: explicit targeted salting for PLANETARY skew
    (a downtown cell with millions of rows on each side).  AQE splits
    oversized shuffle partitions but cannot subdivide one cell's quadratic
    candidate count across tasks for every join type; with a threshold set,
    b-cells holding more than `hot_cell_threshold` rows get a deterministic
    per-row salt in [0, n_salts) appended to the join key, and `a` rows
    targeting a hot cell replicate across all `n_salts` shards.  One extra
    lightweight aggregate over `b` (map-side-combined cell counts; only
    hot cells — a handful — broadcast back).  Each (a, b) pair still meets
    in exactly one (cell, salt), so results are identical (pytest-pinned);
    cold cells pay nothing.  Off (None) by default: the fixture scales
    never need it, and the extra count job would tax interactive latency.
    """
    inv = 1.0 / band_deg
    ax = F.floor(F.col("centroid_lon") * inv).cast("long")
    ay = F.floor(F.col("centroid_lat") * inv).cast("long")
    neighbor = F.explode(
        F.array(*[F.lit(i) for i in (-1, 0, 1)])
    )
    a_cells = (
        a.withColumn("_cx0", ax)
        .withColumn("_cy0", ay)
        .withColumn("_dx", neighbor)
        .withColumn("_dy", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])))
        .withColumn("_cx", F.col("_cx0") + F.col("_dx"))
        .withColumn("_cy", F.col("_cy0") + F.col("_dy"))
        .drop("_cx0", "_cy0", "_dx", "_dy")
    )
    b_cells = b.withColumn(
        "_bcx", F.floor(F.col("centroid_lon") * inv).cast("long")
    ).withColumn("_bcy", F.floor(F.col("centroid_lat") * inv).cast("long"))
    salt_cond = None
    if hot_cell_threshold is not None:
        hot = (
            b_cells.groupBy("_bcx", "_bcy")
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") > hot_cell_threshold)
            .select(
                F.col("_bcx").alias("_hcx"),
                F.col("_bcy").alias("_hcy"),
                F.lit(True).alias("_hot"),
            )
        )
        b_cells = (
            b_cells.join(
                F.broadcast(hot),
                (b_cells["_bcx"] == F.col("_hcx"))
                & (b_cells["_bcy"] == F.col("_hcy")),
                "left",
            )
            .withColumn(
                "_bsalt",
                F.when(
                    F.col("_hot"),
                    F.pmod(F.xxhash64(F.col("id")), F.lit(n_salts)),
                ).otherwise(F.lit(0).cast("bigint")),
            )
            .drop("_hcx", "_hcy", "_hot")
        )
        a_cells = (
            a_cells.join(
                F.broadcast(hot),
                (a_cells["_cx"] == F.col("_hcx"))
                & (a_cells["_cy"] == F.col("_hcy")),
                "left",
            )
            .withColumn(
                "_asalt",
                F.explode(
                    F.when(
                        F.col("_hot"),
                        F.sequence(F.lit(0).cast("bigint"), F.lit(n_salts - 1)),
                    ).otherwise(F.array(F.lit(0).cast("bigint")))
                ),
            )
            .drop("_hcx", "_hcy", "_hot")
        )
        salt_cond = a_cells["_asalt"] == b_cells["_bsalt"]
    cond = (
        (a_cells["_cx"] == b_cells["_bcx"])
        & (a_cells["_cy"] == b_cells["_bcy"])
        & (F.abs(a_cells["centroid_lon"] - b_cells["centroid_lon"]) < band_deg)
        & (F.abs(a_cells["centroid_lat"] - b_cells["centroid_lat"]) < band_deg)
    )
    if salt_cond is not None:
        cond = salt_cond & cond
    if extra_condition is not None:
        cond = cond & extra_condition
    drop_cols = ["_cx", "_cy", "_bcx", "_bcy"] + (
        ["_asalt", "_bsalt"] if salt_cond is not None else []
    )
    if how in ("left_semi", "left_anti"):
        # `a` is replicated 9× — a direct semi join would emit each matching
        # row up to 9 times.  Reduce to the matched-id set first, then
        # semi/anti-join the ORIGINAL (unreplicated) side on id.
        matched = (
            a_cells.join(b_cells, cond, "inner")
            .select(a_cells["id"].alias("_mid"))
            .distinct()
        )
        return a.join(matched, a["id"].eqNullSafe(matched["_mid"]), how)
    # inner: b lives only in its home cell (and exactly one salt shard), so
    # each qualifying (a, b) pair matches in exactly one cell — no pair
    # duplication to clean up.
    return a_cells.join(b_cells, cond, how).drop(*drop_cols)


def _ceil_div(n: int, d: int) -> int:
    return int(math.ceil(n / d))


def _cell_deg(
    predicate: str,
    distance_m: float | None,
    distance_deg: float | None,
    band_deg: float,
) -> float:
    """Grid cell size for a banded join: the distance when a
    `within_distance` threshold is tighter than the band, else the band.
    `dist < d` implies `|Δlon|,|Δlat| < d`, so the tighter cells (and band
    residual) drop only pairs the exact predicate drops anyway."""
    if predicate == "within_distance":
        deg = (
            distance_deg
            if distance_deg is not None
            else meters_to_degrees(distance_m)
            if distance_m is not None
            else None
        )
        if deg is not None and 0 < deg < band_deg:
            return deg
    return band_deg


def spatial_join_grid(
    a: DataFrame,
    b: DataFrame,
    *,
    how: str = "inner",
    predicate: str = "intersects",
    distance_m: float | None = None,
    distance_deg: float | None = None,
    band_deg: float = DEFAULT_BAND_DEG,
    exclude_self: bool = False,
    assume_points: bool = False,
) -> DataFrame:
    """The no-broadcast form of :func:`spatial_join`: grid-cell equi-join
    for candidates (both sides shuffle on cell id; AQE handles skew), exact
    geometric predicate as a post-join filter, semi/anti from matched ids.

    Same semantics as `spatial_join` — compile_pipeline picks this
    implementation when neither side is broadcastable (spatial_impl='grid').

    Cell sizing: for `within_distance` the grid discretizes at the
    DISTANCE, not the 0.2° UI band, whenever the distance is tighter —
    `dist < d` implies `|Δlon|,|Δlat| < d`, so the tighter cells change
    nothing about the result while cutting in-cell candidate density by
    (band/d)² (a 250 m query on 0.2° cells was carrying ~8000× the
    necessary candidates; measured at sf1 this was j2/j4's superlinear
    term).
    """
    band_deg = _cell_deg(predicate, distance_m, distance_deg, band_deg)
    extra = None
    if exclude_self:
        extra = a["id"] != b["id"]
    cand = banded_join(a, b, band_deg=band_deg, how="inner", extra_condition=extra)
    exact = _exact_predicate(
        a, b, predicate=predicate, distance_m=distance_m,
        distance_deg=distance_deg, assume_points=assume_points,
    )
    matched_pairs = cand.where(exact)
    if how == "inner":
        return matched_pairs
    if how in ("left_semi", "left_anti"):
        matched = matched_pairs.select(a["id"].alias("_mid")).distinct()
        return a.join(matched, a["id"].eqNullSafe(matched["_mid"]), how)
    raise ValueError(f"unsupported join type {how!r}")

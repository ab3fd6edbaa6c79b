"""Grid-partitioned kNN join with cell-ring expansion (SURVEY.md §2.3 J8).

The reference's nearest analogues are the 30-px IDW window
(``create_dem_tiles_from_array.py:235-240``) and 4-neighbor bilinear
interpolation (``local_match.py:396-426``); the north rule requires true
kNN. Algorithm (classic distributed exact kNN, one round per radius):

  round r: each DISTINCT cell of the unresolved queries explodes its probe
  span (rows ±r, columns ±rx with rx·cell_w >= r·cell_h) from two int
  sequences; candidate points arrive via an equi-join on the probed cell,
  distances are Column arithmetic and top-k is a window. A query RESOLVES
  when it has >= k candidates AND its k-th distance is <= the provable
  minimum distance to any point outside the probed span (the per-row
  resolve bound). Unresolved queries re-run with doubled r; the last
  radius covers the grid and resolves every query.

The whole round is Column expressions, run in the JVM for both metrics;
the only Python is the loop driver. The metric decides three things only:

- the distance: squared Euclidean degrees ("euclid2", bit-reproducible vs
  SQL oracles) or haversine meters ("haversine");
- the per-row resolve bound, read by the bound pre-filter and the resolve
  test alike. For haversine the longitude part uses the span actually
  probed and shrinks toward the poles;
- whether probe x wraps: for haversine columns wrap at the antimeridian
  (``pmod``), capped so no column repeats once the span covers the grid.

Scale notes: the probe explode is per distinct CELL (not per query), the
shuffle payload is (id, lon, lat, cell) only, and AQE skew-join splits
hot cells. Round one shuffle-hash joins both sides; each later round's
probe rows are known exactly from the previous round's stats job, and
when their 24 bytes a row fit ``repart.fits_broadcast`` the probes are
broadcast (and a tail whose covers-grid probes fit jumps straight to the
covers-grid radius). Each round's survivors are local-checkpointed, so a
round's plan does not re-embed every earlier round.
"""

from __future__ import annotations

import math
import time

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gis_scripts_spark.cachescope import persist, scoped
from gis_scripts_spark.index import cells as cells_mod
from gis_scripts_spark.operators.repart import fits_broadcast

EARTH_R = 6371000.0
# doubling rounds before the last pass forces the covers-grid radius
_MAX_ROUNDS = 10


def _haversine(qlon, qlat, plon, plat):
    la1, la2 = np.radians(qlat), np.radians(plat)
    dla = la2 - la1
    dlo = np.radians(plon - qlon)
    a = np.sin(dla / 2.0) ** 2 + np.cos(la1) * np.cos(la2) * np.sin(dlo / 2.0) ** 2
    return 2.0 * EARTH_R * np.arcsin(np.sqrt(a))


def _haversine_col(qlon: Column, qlat: Column, plon: Column, plat: Column) -> Column:
    """`_haversine` as a Column expression (same operation order)."""
    la1, la2 = F.radians(qlat), F.radians(plat)
    s_la = F.sin((la2 - la1) / 2.0)
    s_lo = F.sin(F.radians(plon - qlon) / 2.0)
    a = s_la * s_la + F.cos(la1) * F.cos(la2) * s_lo * s_lo
    return F.lit(2.0 * EARTH_R) * F.asin(F.sqrt(a))


@scoped
def knn_join(
    points_df: DataFrame,
    queries_df: DataFrame,
    k: int = 5,
    z: int = 6,
    point_id: str = "point_id",
    query_id: str = "query_id",
    lon: str = "lon",
    lat: str = "lat",
    metric: str = "euclid2",
    exclude_self: bool = False,
    initial_r: int | None = None,
    n_points_hint: int | None = None,
    telemetry: dict | None = None,
) -> DataFrame:
    """Exact kNN: for each query row, its k nearest points.

    Returns (query_id, neighbor_id, dist, rank) with rank 1..k ordered by
    (dist, neighbor_id) — the deterministic tie-break.

    `initial_r`: first probe radius. Default: density-sized so ~90% of
    queries resolve in round one (expected k-th-neighbor radius × 1.5 —
    each extra round costs two shuffles, so starting too small dominates
    wall-clock; starting too large only pads the candidate lists).

    The GLOBAL density radius is exactly wrong on skewed data — a hot
    cluster at 64× the global density probes the same ring but collects
    64× the candidates per query (the r4→r5 material-size bench measured
    ~250M of ~300M candidate rows coming from a 10%-of-rows hot spot). So
    each query whose own cell holds ≥ 4k points starts at its LOCAL
    density radius (clipped to [1, initial_r]) via one ids-only
    groupBy(cell).count() + equi-join; sparse cells keep the global
    radius. Purely a work-sizing hint: the resolve bound uses the radius
    actually probed, so an under-probed query just re-runs.

    `telemetry`: optional dict filled with {"initial_r", "rounds":
    [{"r", "n_unresolved_after", "seconds"}]}.
    """
    if metric not in ("euclid2", "haversine"):
        raise ValueError(f"unknown metric {metric!r}")
    wrap = metric == "haversine"
    spark = points_df.sparkSession
    cell_w, cell_h = cells_mod.cell_size_deg(z)
    grid_n = 1 << z
    glong = F.lit(int(grid_n)).cast("long")
    zero, one = F.lit(0).cast("long"), F.lit(1).cast("long")
    pts = points_df.select(
        F.col(point_id).alias("_pid"),
        F.col(lon).cast("double").alias("_plon"),
        F.col(lat).cast("double").alias("_plat"),
    ).withColumn("_pcell", cells_mod.cell_col("_plon", "_plat", z))

    qry = queries_df.select(
        F.col(query_id).alias("_qid"),
        F.col(lon).cast("double").alias("_qlon"),
        F.col(lat).cast("double").alias("_qlat"),
    ).withColumn("_qcell", cells_mod.cell_col("_qlon", "_qlat", z))

    def span_x(cr: Column) -> Column:
        # anisotropic probe span: cells are cell_w wide × cell_h tall, so
        # rx = ceil(cr·cell_h/cell_w) columns keep every unprobed column at
        # least cr·cell_h away in x. The covers-grid radius probes every
        # column from any position.
        return F.when(cr >= glong, glong).otherwise(
            F.greatest(one, F.ceil(cr.cast("double") * F.lit(cell_h / cell_w)).cast("long"))
        )

    def resolve_bound(cr: Column) -> Column:
        # minimum distance from the query to any point outside the probed
        # span, in the metric's units; +inf once the span covers the grid
        reach = cr.cast("double") * F.lit(cell_h)  # rows: degrees of latitude
        if not wrap:
            bound = reach * reach  # unprobed columns are >= reach away too
        else:
            rx = span_x(cr)
            b_lat = F.lit(2.0 * EARTH_R) * F.sin(F.radians(reach) / 2.0)  # chord <= arc
            # longitude route: an unprobed column is >= λ = rx·cell_w of
            # longitude away, and the great-circle distance from the query
            # to a whole meridian λ away (λ <= 90°) is asin(cos(lat)·sin λ);
            # past 90° the nearest such point is the pole. +inf once the
            # wrapped span holds every column.
            lon_deg = F.least(F.lit(90.0), rx.cast("double") * F.lit(cell_w))
            b_lon = F.when(2 * rx + 1 >= glong, F.lit(math.inf)).otherwise(
                F.lit(EARTH_R)
                * F.asin(F.least(F.lit(1.0), F.cos(F.radians("_qlat")) * F.sin(F.radians(lon_deg))))
            )
            bound = F.least(b_lat, b_lon)
        return F.when(cr >= glong, F.lit(math.inf)).otherwise(bound)

    pts = persist(pts)  # re-joined every round
    if initial_r is None:
        n_pts = n_points_hint if n_points_hint is not None else pts.count()
        density = max(n_pts, 1) / (360.0 * 180.0)  # rows per deg^2 (global)
        exp_kth_deg = float(np.sqrt(k / (np.pi * density)))
        initial_r = int(np.clip(np.ceil(1.5 * exp_kth_deg / cell_h), 1, grid_n))

    if telemetry is not None:
        telemetry["initial_r"] = int(initial_r)
        telemetry["rounds"] = []
    # per-query starting radius (see the docstring). The count+join is
    # ids-only; the join also pre-shuffles queries by _qcell — the exact
    # partitioning the candidate join needs anyway.
    rlit = F.lit(int(initial_r)).cast("long")
    unresolved = qry.withColumn("_r", rlit)
    if initial_r > 1:
        cnts = pts.groupBy(F.col("_pcell").alias("_qcell")).agg(F.count(F.lit(1)).alias("_cc"))
        dens = F.col("_cc").cast("double") / F.lit(cell_w * cell_h)
        r_formula = F.ceil(
            F.lit(1.5) * F.sqrt(F.lit(float(k)) / (F.lit(float(np.pi)) * dens)) / F.lit(cell_h)
        ).cast("long")
        r_ad = F.when(F.col("_cc") >= F.lit(4 * k), F.greatest(one, F.least(r_formula, rlit)))
        unresolved = (
            qry.join(cnts, "_qcell", "left")
            .withColumn("_r", F.coalesce(r_ad, rlit))
            .drop("_cc")
        )
    # referenced by both the probe groupBy and the candidate join each
    # round — persist so the cnts-join lineage runs once
    unresolved = persist(unresolved)
    resolved_parts: list[DataFrame] = []
    # set from the prior round's exact probe-row bound: broadcast the
    # retry probes (points table never re-shuffled for a handful of
    # stragglers)
    broadcast_probes = False
    r = int(initial_r)  # the round's radius, for telemetry
    # _MAX_ROUNDS + 1 passes: if the doubling budget runs out before the
    # radius covers the grid, the LAST pass forces it, so every remaining
    # query resolves — no query ever silently drops
    for round_i in range(_MAX_ROUNDS + 1):
        t0 = time.perf_counter()
        if round_i == _MAX_ROUNDS:
            r = grid_n
            unresolved = unresolved.withColumn("_r", glong)
        # The probe radius `_cr` is per CELL (max over the cell's queries —
        # a larger radius only pads candidates, never breaks the bound), so
        # dense cells explode a 3×3 disk while sparse ones explode the full
        # global-radius ring. Spans are clipped to the grid (and wrapped
        # in x for haversine), so no probe falls outside it.
        cr = F.col("_cr")
        rx = span_x(cr)
        gx = F.expr(cells_mod.cell_gx_sql("_qcell"))
        gy = F.expr(cells_mod.cell_gy_sql("_qcell"))
        if wrap:
            x0 = gx - rx
            xs = F.sequence(x0, x0 + F.least(2 * rx, glong - 1))
        else:
            xs = F.sequence(F.greatest(gx - rx, zero), F.least(gx + rx, glong - 1))
        ys = F.sequence(F.greatest(gy - cr, zero), F.least(gy + cr, glong - 1))
        probes = (
            unresolved.groupBy("_qcell").agg(F.max("_r").alias("_cr"))
            .withColumn("_px", F.explode(xs))
            .withColumn("_py", F.explode(ys))
            .select(
                "_qcell",
                "_cr",
                F.expr(cells_mod.pack_sql(z, f"pmod(_px, {grid_n}L)" if wrap else "_px", "_py"))
                .alias("_probe"),
            )
        )
        # round 1 is the bulk join: shuffle-hash both sides. Later rounds
        # have a provably bounded probe count (known exactly from the
        # previous round's stats job) — broadcast the probes so the points
        # table is NOT re-shuffled just to serve a handful of retries
        # (measured as a ~3s/round fixed cost at material size).
        if broadcast_probes:
            cand = F.broadcast(probes).join(pts, probes["_probe"] == pts["_pcell"], "inner")
        else:
            cand = probes.join(pts.hint("shuffle_hash"), probes["_probe"] == pts["_pcell"], "inner")
        cand = cand.select("_qcell", "_cr", "_pid", "_plon", "_plat")
        joined = unresolved.drop("_r").join(cand, "_qcell")
        if exclude_self:
            joined = joined.filter(F.col("_pid") != F.col("_qid"))
        if wrap:
            dist = _haversine_col(F.col("_qlon"), F.col("_qlat"), F.col("_plon"), F.col("_plat"))
        else:
            dx = F.col("_plon") - F.col("_qlon")
            dy = F.col("_plat") - F.col("_qlat")
            dist = dx * dx + dy * dy
        # BOUND PRE-FILTER (r5, the dominant-stage cut): a candidate farther
        # than the resolve bound can never appear in a RESOLVED query's
        # top-k, and an unresolved query re-runs with a larger radius
        # anyway — so rows beyond the bound only ever feed the rank sort to
        # be discarded. Dropping them BEFORE the window cuts the sort input
        # by the probed-rect/inscribed-circle ratio (~2.5x on the uniform
        # ring) while the resolved set and every emitted row stay provably
        # identical. The bound is +inf at the covers-grid radius.
        joined = (
            joined.withColumn("dist", dist)
            .withColumn("_bound", resolve_bound(cr))
            .filter(F.col("dist") <= F.col("_bound"))
        )
        # partition the rank window by (_qcell, _qid): a query's candidates
        # all live in its single cell group, so the window semantics are
        # identical to partitionBy(_qid) — but the join's existing
        # hashpartitioning(_qcell) SATISFIES the clustered distribution of
        # the superset key, so the full-size candidate frame gets a local
        # sort instead of another Exchange
        w_rank = Window.partitionBy("_qcell", "_qid").orderBy("dist", "_pid")
        top = joined.withColumn("rank", F.row_number().over(w_rank)).filter(F.col("rank") <= k)
        # candidate-count + kth-distance stats over the TOP frame (<= k
        # rows/query): n_top == k is equivalent to n_cand >= k, and the k-th
        # distance is the max of the top list
        w_small = Window.partitionBy("_qid")
        kth = F.max("dist").over(w_small)
        n_top = F.count(F.lit(1)).over(w_small)
        resolved = (cr >= glong) | ((n_top >= k) & (kth <= F.col("_bound")))
        scored = persist(
            top.select(
                F.col("_qid").alias("query_id"),
                F.col("_pid").alias("neighbor_id"),
                F.col("dist"),
                F.col("rank").cast("int").alias("rank"),
                resolved.alias("_resolved"),
            )
        )
        resolved_parts.append(
            scored.filter(F.col("_resolved") & F.col("neighbor_id").isNotNull()).drop("_resolved")
        )
        # queries with zero candidates never appear in `scored` — the
        # anti-join keeps them in play (nothing silently drops). No
        # broadcast hint: done_q is ~all queries in round 1; AQE picks the
        # strategy. Survivors re-run with DOUBLED radius (a retry radius
        # from the observed k-th distance was measured in r5 and lost to
        # the pre-filter, after which a survivor never saw k candidates).
        done_q = scored.filter(F.col("_resolved")).select(F.col("query_id").alias("_qid")).distinct()
        # local checkpoint, not persist: every later reference (the probe
        # groupBy, the candidate join, the next anti-join) reads the
        # survivors' blocks, and each round's plan starts from a leaf
        # instead of re-embedding every earlier round (the persisted chain
        # grew ~4x per round and exhausted the driver heap by round 5)
        undone = unresolved.join(done_q, "_qid", "left_anti").localCheckpoint(eager=False)
        r_dbl = F.least(F.col("_r") * 2, glong)
        # ONE stats job sizes BOTH retry policies: the doubled radius
        # (per-query probe-cell bound) and a direct jump to the covers-grid
        # radius (per-CELL bound: at most grid_n² probes per cell).
        stats = undone.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((2 * r_dbl + 1) * (2 * span_x(r_dbl) + 1)).alias("probe_cells"),
            F.countDistinct("_qcell").alias("n_cells"),
        ).first()
        n_undone = int(stats["n"])
        if telemetry is not None:
            telemetry["rounds"].append(
                {
                    "r": r,
                    "n_unresolved_after": n_undone,
                    "seconds": round(time.perf_counter() - t0, 3),
                }
            )
        if n_undone == 0:
            break
        # Collapse the retry tail (r5 verdict: round 1 resolves ~99.65% at
        # material size, then TWO more doubling rounds + their stats jobs
        # served a straggler sliver): when the full covers-grid probe set
        # for every surviving cell fits the broadcast gate, jump the
        # survivors straight to r = grid_n — one final round resolves
        # everything. Exactness is radius-schedule-independent; at larger
        # survivor counts the doubling schedule is kept so the points table
        # is never flooded.
        # a probe row is three longs (_qcell, _cr, _probe): 24 bytes
        grid_probe_bound = int(stats["n_cells"]) * grid_n * grid_n
        if fits_broadcast(spark, "knn_join.grid_probes", 24 * grid_probe_bound):
            unresolved = undone.withColumn("_r", glong)
            broadcast_probes = True
            r = grid_n
        else:
            unresolved = undone.withColumn("_r", r_dbl)
            broadcast_probes = fits_broadcast(
                spark, "knn_join.probes", 24 * int(stats["probe_cells"])
            )
            r = min(2 * r, grid_n)

    out = resolved_parts[0]
    for part in resolved_parts[1:]:
        out = out.unionByName(part)
    return out

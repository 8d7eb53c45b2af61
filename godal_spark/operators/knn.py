"""kNN join via cell-ring expansion (north_rule operator; absent in the
reference — godal's closest analogue is Grid's invdistnn neighbor search,
godal.go:4001-4084).

One driver action, then one lazy plan. The guaranteed path:

  0. occupancy histogram — the only action. Points and queries are
     grouped by their cell at level 8 (≤ 65,536 cells a side): count and
     min/max lon/lat. That gives |P|, |Q| and the points' bbox exactly
     (`res=None` reads them), and, on the driver, a certified ring radius
     for every cell holding a query at h = min(res, 8): a numpy
     summed-area table finds the least block half-width `a` (level-h
     cells, no longitude wrap) holding ≥ k points. Every point of that
     block is within D = (a+1)·hypot(cw_h, ch_h) of any query in the
     cell, so the true k-th distance is ≤ D, and a ring pass at `res` of
     r = floor(D / min_cell) + 1 rings certifies the exact top-k (below).
  1. ring pass — index both sides at `res` (JVM arithmetic); explode
     each query point to its ring-0..R candidate cells (built-in
     sequence cross), equi-join on cell, distance (codegen),
     `row_number()` top-k. The result is the TRUE top-k when the k-th
     distance is < R·min(cell_w, cell_h): any point outside the (2R+1)²
     block is at least that far away (the query sits somewhere inside its
     own cell, so every block face is ≥ R cells from it). Candidates at
     dist ≥ that bound are dropped BEFORE the top-k sort (they can never
     certify — guide §2.3, sort fewer rows), and a query that keeps ≥ k
     is exact.
  2. re-probe passes — each query carries its cell's certified radius
     through the ring pass, where a marker row (null point, ranked last)
     keeps every query in the top-k window. A pass expands each
     uncertified query's rank-1 row to its radius block while certified
     rows pass through, and a second top-k window ranks both: no
     anti-join. At res ≤ 8 one pass at the certified radius suffices.
     Above it a level-8 radius is loose by up to 2^(res-8) ring cells, so
     the passes double from 2·rings, each capped at the query's radius:
     a query stops expanding at the first radius that certifies it.
  3. brute — exact cross-join + window pass, unioned in only where the
     histogram says it is needed: k > |P| (then it is the whole plan), or
     a query cell whose radius exceeds `max_reprobe_rings`. The last
     re-probe pass runs at that cap, so the tier only sees queries whose
     k-th neighbor is ≥ max_reprobe_rings·min_cell away.

No checkpoint and no emptiness probe, and the runtime choice is logged on
one line. The queries are hash-partitioned by id before the explode; when
the points are broadcast (`broadcast_points`, or Spark's own size choice)
the tiers run in one stage after that shuffle: no top-k window needs an
exchange of its own.

The ring join's cost is (2R+1)² × |Q| candidate rows BEFORE the join —
explicit and tunable, unlike a cross join's |Q|×|P|. Euclidean degree
metric (consistent with the oracle); swap in haversine via the same
column expression if needed.

`res=None` picks the resolution from point density (`auto_res`): aim
for the (2R+1)² ring block to hold ≈ 8k candidates, estimated from |P|
and its bounding box. Too-coarse cells make the ring pass
near-brute-force (the round-1 res=4 configuration probed ~10 % of all
points per query); too-fine cells push every query into the radius pass.
"""

from __future__ import annotations

import logging
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from godal_spark.functions import cellindex

log = logging.getLogger(__name__)

_XSHIFT = 26
_RSHIFT = 52
_HIST_RES = 8
# Plans are built from SQL text: every Column-API call is one driver→JVM
# round-trip, and composing the ring explode from Column objects cost
# ~3,700 of them per knn_join call (about 1 s of driver time on a 4-CPU
# host).
_DIST = "sqrt(pow({lon} - __plon, 2) + pow({lat} - __plat, 2))"


def _lit(x: float) -> str:
    return f"CAST({x!r} AS DOUBLE)"


def cell_deg(res: int) -> tuple[float, float]:
    """(cell_w, cell_h) in degrees at resolution `res`."""
    n = 1 << res
    return 360.0 / n, 180.0 / n


def _res_for(n_pts: int, x0, x1, y0, y1, k: int, rings: int,
             lo: int = 2, hi: int = 12, target_factor: int = 8) -> int:
    if n_pts == 0:
        return lo
    frac = max(((x1 - x0) / 360.0) * ((y1 - y0) / 180.0), 1e-6)
    block = (2 * rings + 1) ** 2
    # want: block * n_pts / (4^res * frac) ≈ target_factor * k
    want_cells = block * n_pts / (frac * max(target_factor * k, 1))
    res = int(round(math.log(max(want_cells, 1.0), 4)))
    return int(min(hi, max(lo, res)))


def auto_res(points: DataFrame, k: int, rings: int = 2, *,
             lon: str = "lon", lat: str = "lat",
             lo: int = 2, hi: int = 12, target_factor: int = 8) -> int:
    """Resolution from point density: choose res so a query's ring block
    ((2·rings+1)² cells) holds ≈ target_factor·k points, estimating the
    per-cell density from |P| over its bounding-box cell span. One cheap
    metadata agg (count + 4 min/max) — no data collect. `knn_join` reads
    the same numbers from its occupancy histogram instead."""
    st = points.agg(F.count("*").alias("n"),
                    F.min(lon).alias("x0"), F.max(lon).alias("x1"),
                    F.min(lat).alias("y0"), F.max(lat).alias("y1")).first()
    return _res_for(st["n"] or 0, st["x0"], st["x1"], st["y0"], st["y1"], k, rings,
                    lo=lo, hi=hi, target_factor=target_factor)


def _occupancy(queries: DataFrame, points: DataFrame, q_lon: str, q_lat: str,
               p_lon: str, p_lat: str) -> pd.DataFrame:
    """The one driver action: per (side, level-8 cell) the row count and
    lon/lat min/max, side 0 = points, 1 = queries, as a pandas frame
    (≤ 2 · 65,536 rows). Rows with a null coordinate are left out."""
    def side(df, s, lon, lat):
        x, y = cellindex.sql_cell_xy(lon, lat, _HIST_RES)
        return df.where(f"{lon} IS NOT NULL AND {lat} IS NOT NULL").selectExpr(
            f"{s} AS side", f"{x} AS x", f"{y} AS y",
            f"cast({lon} as double) AS lon", f"cast({lat} as double) AS lat")

    return (side(points, 0, p_lon, p_lat)
            .unionByName(side(queries, 1, q_lon, q_lat))
            .groupBy("side", "x", "y")
            .agg(F.expr("count(1) AS n"), F.expr("min(lon) AS x0"),
                 F.expr("max(lon) AS x1"), F.expr("min(lat) AS y0"),
                 F.expr("max(lat) AS y1"))
            .toPandas())


def _cell_radii(pts: pd.DataFrame, qx: np.ndarray, qy: np.ndarray, k: int, h: int,
                min_cell: float) -> np.ndarray:
    """Certified ring radius (in cells of size `min_cell`) for each query
    cell (qx, qy) at level h; needs Σ pts.n ≥ k. The least block
    half-width `a` holding ≥ k points comes from a summed-area table by a
    vectorized binary search (the block count only grows with `a`, and at
    a = 2^h - 1 the block is the whole grid)."""
    m = 1 << h
    s = _HIST_RES - h
    grid = np.zeros((m, m), np.int64)
    np.add.at(grid, (pts["x"].to_numpy() >> s, pts["y"].to_numpy() >> s),
              pts["n"].to_numpy())
    sat = np.zeros((m + 1, m + 1), np.int64)
    sat[1:, 1:] = grid.cumsum(0).cumsum(1)

    def block(a):
        x0, x1 = np.maximum(qx - a, 0), np.minimum(qx + a, m - 1) + 1
        y0, y1 = np.maximum(qy - a, 0), np.minimum(qy + a, m - 1) + 1
        return sat[x1, y1] - sat[x0, y1] - sat[x1, y0] + sat[x0, y0]

    lo, hi = np.zeros_like(qx), np.full_like(qx, m - 1)
    while (lo < hi).any():
        mid = (lo + hi) // 2
        ok = block(mid) >= k
        lo, hi = np.where(ok, lo, mid + 1), np.where(ok, mid, hi)
    d = (lo + 1) * math.hypot(*cell_deg(h))
    return (np.floor(d / min_cell) + 1).astype(np.int64)


def _ring_cell(res: int, rings: str, q_lon: str, q_lat: str) -> tuple[str, str]:
    """SQL for a query's ring block at `res`: (index of its last cell, id
    of cell `__i`). `rings` may name a per-row column. A cell beyond a
    pole, and any `__i < 0`, get a null id, which joins nothing."""
    n = 1 << res
    x, y = cellindex.sql_cell_xy(q_lon, q_lat, res)
    side = f"(2 * {rings} + 1)"
    cx = f"pmod({x} + __i div {side} - {rings}, {n})"
    cy = f"({y} + __i % {side} - {rings})"
    return (f"{side} * {side} - 1",
            f"CASE WHEN __i >= 0 AND {cy} BETWEEN 0 AND {n - 1} "
            f"THEN {res << _RSHIFT}L + {cx} * {1 << _XSHIFT} + {cy} END")


def _ring_candidates(q: DataFrame, cols: list[str], p: DataFrame, res: int, rings: str,
                     q_lon: str, q_lat: str, keep: str = "true",
                     marker: bool = False) -> DataFrame:
    """Explode q to its ring cells, join on cell, compute distance, keep
    rows where `keep` holds. Returns `cols` of q plus __pid, __plon,
    __plat, dist; p must carry (cell, __pid, __plon, __plat). With
    `marker`, every query also keeps one row with null point columns, so
    it reaches the top-k window even with no candidate."""
    last, cell = _ring_cell(res, rings, q_lon, q_lat)
    return (q.selectExpr("*", f"explode(sequence({-int(marker)}, {last})) AS __i")
            .selectExpr(*cols, "__i", f"{cell} AS cell")
            .join(p, "cell", "left" if marker else "inner")
            .selectExpr(*cols, "__i", "__pid", "__plon", "__plat",
                        f"{_DIST.format(lon=q_lon, lat=q_lat)} AS dist")
            .where(f"{keep} OR __i < 0"))


def _rank_topk(cand: DataFrame, k: int, q_id: str, cols: list[str]) -> DataFrame:
    """The output rows: top-k per query by (dist, __pid), marker rows last,
    with `complete` = the query had ≥ k candidates (same window
    partitioning: no extra exchange)."""
    return cand.selectExpr(
        *cols, "__pid AS neighbor_id", "__plon AS neighbor_lon", "__plat AS neighbor_lat",
        "dist", f"row_number() OVER (PARTITION BY {q_id} "
                "ORDER BY dist ASC NULLS LAST, __pid) AS rank",
        f"count(__pid) OVER (PARTITION BY {q_id}) >= {k} AS complete").where(f"rank <= {k}")


def _steps(rings: int, cap: int, doubling: bool) -> list[int]:
    """Ring radii of the re-probe passes after the `rings` pass: `cap`
    alone, or with `doubling` first 2·rings, 4·rings, … below it. None
    when `cap` ≤ rings (the rings pass certifies every query)."""
    steps, r = [], max(1, 2 * rings)
    while doubling and r < cap:
        steps.append(r)
        r *= 2
    return steps + [cap] if cap > rings else steps


def _reprobe(ranked: DataFrame, p: DataFrame, r: int, res: int, min_cell: float, k: int,
             q_id: str, qid: str, qlon: str, qlat: str, cols: list[str]) -> DataFrame:
    """One re-probe pass, in the partitions of `ranked` (top-k rows with
    `cols` ∋ __rq): an incomplete query's rank-1 row expands to
    least(r, __rq) rings plus its marker row, complete rows pass through,
    and a top-k window ranks both. At radius __rq the histogram certifies
    ≥ k points in bound, so those queries come out complete."""
    rq = f"least({r}, __rq)"
    last, cell = _ring_cell(res, rq, qlon, qlat)
    dist = _DIST.format(lon=qlon, lat=qlat)
    cand = (ranked.where("complete OR rank = 1")
            .selectExpr("*", f"explode(sequence(-1, IF(complete, -1, {last}))) AS __i")
            .selectExpr("*", f"{cell} AS cell")
            .join(p, "cell", "left")
            .selectExpr(*cols, "IF(complete, neighbor_id, __pid) AS __pid",
                        "IF(complete, neighbor_lon, __plon) AS __plon",
                        "IF(complete, neighbor_lat, __plat) AS __plat",
                        f"IF(complete, dist, {dist}) AS dist",
                        f"complete OR __i < 0 OR {dist} < {rq} * {_lit(min_cell)} AS __keep")
            .where("__keep"))
    if 2 * r + 1 >= 1 << res:
        cand = cand.dropDuplicates([q_id, "__pid"])
    return _rank_topk(cand, k, qid, cols)


def _brute(q_side: DataFrame, p_side: DataFrame, k: int, qid: str, qlon: str, qlat: str,
           cols: list[str]) -> DataFrame:
    """Exact cross join + top-k window, for the queries no radius certifies."""
    return _rank_topk(q_side.crossJoin(p_side).selectExpr(
        *cols, "__pid", "__plon", "__plat", f"{_DIST.format(lon=qlon, lat=qlat)} AS dist"),
        k, qid, cols)


def knn_join(queries: DataFrame, points: DataFrame, k: int, *,
             q_id: str, q_lon: str = "lon", q_lat: str = "lat",
             p_id: str, p_lon: str = "lon", p_lat: str = "lat",
             res: int | None = None, rings: int = 2,
             broadcast_points: bool = False,
             guarantee: bool = True, max_reprobe_rings: int = 64) -> DataFrame:
    """Top-k nearest points per query. Output columns: the query's
    columns, neighbor_id/neighbor_lon/neighbor_lat, dist, rank (1-based),
    and `complete`.

    guarantee=True (default): results are the EXACT top-k, from one
    driver action (the occupancy histogram) and one lazy plan: the ring
    pass at `rings` certifies the dense queries; the rest re-run at their
    cell's histogram-certified radius (above res 8, at doubling radii
    capped by it); a cross-join brute tier joins the plan only when the
    histogram shows it is needed (k > |P|, or a query cell whose radius
    exceeds `max_reprobe_rings`), and then only gets the queries no pass
    up to `max_reprobe_rings` certified.
    `complete` is `found == k`, false only when k > |P|. Empty points or
    empty queries give an empty frame.

    guarantee=False: single ring pass; `complete` certifies the bound
    (found ≥ k AND kth dist < rings·min(cell_w, cell_h)) — a false flag
    means the top-k may be missing a true neighbor just outside the ring
    block. Round 1 shipped complete = found ≥ k, which wrongly certified
    results whose true k-th neighbor sat outside the scanned block. With
    an explicit `res` this mode runs no action before it returns.

    Raises ValueError for k < 1 or rings < 0. Deterministic: ties broken
    by (dist, p_id).
    """
    if k < 1:
        raise ValueError(f"knn_join: k must be >= 1, got {k}")
    if rings < 0:
        raise ValueError(f"knn_join: rings must be >= 0, got {rings}")
    qid, qlon, qlat = (f"`{c}`" for c in (q_id, q_lon, q_lat))
    plon, plat = f"`{p_lon}`", f"`{p_lat}`"

    cols = [f"`{c}`" for c in queries.columns]
    if guarantee or res is None:
        occ = _occupancy(queries, points, qlon, qlat, plon, plat)
        pts, qcells = occ[occ["side"] == 0], occ[occ["side"] == 1]
        n_pts = int(pts["n"].sum())
        if res is None:
            res = _res_for(n_pts, pts["x0"].min(), pts["x1"].max(),
                           pts["y0"].min(), pts["y1"].max(), k, rings)
    n = 1 << res
    min_cell = min(cell_deg(res))
    bound = rings * min_cell

    p = points.selectExpr(
        f"`{p_id}` AS __pid", f"{plon} AS __plon", f"{plat} AS __plat",
        f"{cellindex.sql_cell_expr(plon, plat, res)} AS cell",
    ).where("__plon IS NOT NULL AND __plat IS NOT NULL")
    if broadcast_points:
        p = F.broadcast(p)
    # The driver tables read as ONE split (guide §2.2): without a
    # repartition the whole ring pass (explode x join x top-k sort) ran as
    # a single task (measured 5.2 s of a 5.5 s knn wall in one task at
    # sf1.0). Hash-partitioning by query id keeps through the explodes and
    # through broadcast joins of the points (the flag, or Spark's own size
    # choice), so then no top-k window of the plan needs its own exchange.
    queries = queries.repartition(queries.sparkSession.sparkContext.defaultParallelism, q_id)

    def ring(q: DataFrame, qcols: list[str], keep: str = "true", marker: bool = False):
        cand = _ring_candidates(q, qcols, p, res, str(rings), qlon, qlat, keep, marker)
        # ring cells are distinct, EXCEPT when the ring span wraps the whole
        # longitude range (2*rings+1 >= 2^res): then the pmod wrap aliases
        # cells and the same point appears twice for one query — dedup
        if 2 * rings + 1 >= n:
            cand = cand.dropDuplicates([q_id, "__pid"])
        return _rank_topk(cand, k, qid, qcols)

    if not guarantee:
        out = [*cols, "neighbor_id", "neighbor_lon", "neighbor_lat", "dist", "rank"]
        return ring(queries, cols).selectExpr(
            *out, f"complete AND max(dist) OVER (PARTITION BY {qid}) < {_lit(bound)} "
                  "AS complete")

    # ---- guaranteed path --------------------------------------------------
    # EXACT prefilter (guide §2.3 — sort/shuffle fewer rows): a candidate at
    # dist >= bound can never be part of a CERTIFIED top-k, so drop it
    # before the top-k sort. A query that keeps >= k candidates has its
    # exact global top-k (every point outside the ring block is >= bound
    # away); `complete` marks exactly those.
    in_bound = f"dist < {_lit(bound)}"
    h = min(res, _HIST_RES)
    n_q = int(qcells["n"].sum())
    if n_pts == 0 or n_q == 0:
        log.info("knn_join: |P|=%d |Q|=%d res=%d h=%d: empty result", n_pts, n_q, res, h)
        return ring(queries, cols, in_bound).limit(0)
    if n_pts < k:
        log.info("knn_join: |P|=%d |Q|=%d res=%d h=%d: k=%d > |P|, brute tier only",
                 n_pts, n_q, res, h, k)
        return _brute(queries, F.broadcast(p), k, qid, qlon, qlat, cols)

    s = _HIST_RES - h
    key = np.unique((qcells["x"].to_numpy() >> s) << h | (qcells["y"].to_numpy() >> s))
    qx, qy = key >> h, key & ((1 << h) - 1)
    radius = _cell_radii(pts, qx, qy, k, h, min_cell)
    r_max = int(radius.max())
    with_brute = r_max > max_reprobe_rings
    # Above the histogram level a radius counts whole level-h cells, each
    # 2^(res-h) ring cells a side, so it can overshoot a query's need by
    # that much: there the passes double from 2·rings, each capped at the
    # query's certified radius. The last pass runs at min(r_max,
    # max_reprobe_rings), so the brute tier only gets queries with fewer
    # than k points within max_reprobe_rings rings.
    steps = _steps(rings, min(r_max, max_reprobe_rings), res > h)
    log.info("knn_join: |P|=%d |Q|=%d res=%d h=%d max_radius=%d cells_over_rings=%d "
             "steps=%s brute=%s", n_pts, n_q, res, h, r_max, int((radius > rings).sum()),
             steps, with_brute)

    # Each query carries its cell's certified radius __rq through the ring
    # pass, where its marker row keeps it in the top-k window; each
    # re-probe pass then expands the queries still incomplete.
    radii = queries.sparkSession.createDataFrame(
        pd.DataFrame({"__hx": qx, "__hy": qy, "__rq": radius}),
        "__hx long, __hy long, __rq long")
    hx, hy = cellindex.sql_cell_xy(qlon, qlat, h)
    rcols = [*cols, "__rq"]
    ranked = ring(queries.join(F.broadcast(radii), F.expr(f"__hx = {hx} AND __hy = {hy}")),
                  rcols, in_bound, marker=True)
    for r in steps:
        ranked = _reprobe(ranked, p, r, res, min_cell, k, q_id, qid, qlon, qlat, rcols)
    out = [*cols, "neighbor_id", "neighbor_lon", "neighbor_lat", "dist", "rank", "complete"]
    if not with_brute:
        return ranked.selectExpr(*out)
    # `ranked` feeds both sides of the union, so its passes run twice in
    # the plan (exchange reuse shares the shuffles, not the windows); the
    # tier is planned only when a cell's radius passes max_reprobe_rings.
    rest = ranked.where("NOT complete AND rank = 1").selectExpr(*cols)
    return ranked.where("complete").selectExpr(*out).unionByName(
        _brute(F.broadcast(rest), p, k, qid, qlon, qlat, cols))

"""Raster→vector: Polygonize + SieveFilter (reference godal.go:348-413).

Golden contracts (godal_test.go:2175-2281, 3995-4078):
  * Polygonize: connected components of equal-valued pixels; 4-connected
    default, EightConnected() option; pixels masked out (nodata mask)
    excluded by default, NoMask() keeps them, Mask(band) overrides.
    diag 8x8 → 10 features (4-conn) / 2 (8-conn); masked quarter → 48.
  * SieveFilter: components smaller than threshold take the value of
    their largest neighboring component; mask pixels preserved;
    8-connected diagonal of 10 px survives threshold 3.

Distributed design: `polygonize` gathers ONE image band's tiles into a
single task (`groupBy(image_id, band).applyInPandas`) — at 10^12-image
scale parallelism comes from image count. For single rasters larger
than one task, `polygonize_tiles` and `sieve_tiles` never gather: they
share one tile-border pipeline (_label_tile per tile, _border_strips
for its edges, _border_pairs to join components across tile borders
in the JVM, _attach_roots for the component roots).

Geometry emission: components trace to rectilinear rings (interior-left
directed edge walk). Components whose 8-conn boundary self-touches
(corner-connected squares) emit MultiPolygon — same feature count and
area as GDAL's self-touching Polygon, structural deviation documented.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from godal_spark.functions import geom as G
from godal_spark.plans.skew import adaptive_parallelism


# ---------------------------------------------------------------------------
# connected-component labeling (pure numpy union-find)
# ---------------------------------------------------------------------------

def label_components(arr: np.ndarray, eight: bool = False,
                     valid: np.ndarray | None = None) -> tuple[np.ndarray, int]:
    """Label equal-valued connected regions. Returns (labels, n) where
    labels[y,x] = component id in [0, n) or -1 for invalid pixels."""
    h, w = arr.shape
    if valid is None:
        valid = np.ones((h, w), dtype=bool)
    idx = np.arange(h * w, dtype=np.int64).reshape(h, w)
    parent = np.arange(h * w, dtype=np.int64)

    def pairs(sl_a, sl_b):
        m = valid[sl_a] & valid[sl_b] & (arr[sl_a] == arr[sl_b])
        return idx[sl_a][m], idx[sl_b][m]

    links = [
        pairs(np.s_[:, 1:], np.s_[:, :-1]),   # left
        pairs(np.s_[1:, :], np.s_[:-1, :]),   # up
    ]
    if eight:
        links.append(pairs(np.s_[1:, 1:], np.s_[:-1, :-1]))   # up-left
        links.append(pairs(np.s_[1:, :-1], np.s_[:-1, 1:]))   # up-right

    # vectorized FastSV-style resolution (round-2: the per-link Python
    # union-find loop dominated megapixel rasters): alternate edge
    # min-relaxation with full pointer-doubling compression; converges in
    # O(log diameter) rounds, each a handful of O(area) numpy ops. The
    # fixed point assigns every pixel its component's MINIMUM flat index
    # — identical labels to the old union-by-min code.
    del parent
    flat_valid = valid.ravel()
    lab = np.where(flat_valid, np.arange(h * w, dtype=np.int64), -1)
    if links:
        a_idx = np.concatenate([a for a, _ in links]) if links else np.empty(0, np.int64)
        b_idx = np.concatenate([b for _, b in links]) if links else np.empty(0, np.int64)
        if a_idx.size:
            vmask = lab >= 0
            while True:
                prev = lab.copy()
                # hook ROOTS, not nodes: scattering the neighbor's root
                # onto this node's ROOT lets the next compression pass
                # relabel the node's whole tree at once — O(log n)
                # outer rounds. (Scattering onto the node itself spread
                # merged labels one BFS layer per round = O(diameter):
                # 1,030 rounds / 17 s on a 1024^2 snaky-blob tile,
                # round-4 finding; now 10 rounds / 0.4 s.)
                ra, rb = lab[a_idx], lab[b_idx]
                np.minimum.at(lab, ra, rb)
                np.minimum.at(lab, rb, ra)
                while True:  # path compression to the current roots
                    nxt = lab.copy()
                    nxt[vmask] = lab[lab[vmask]]
                    if np.array_equal(nxt, lab):
                        break
                    lab = nxt
                if np.array_equal(lab, prev):
                    break
    roots = lab
    uniq, labels_flat = np.unique(roots, return_inverse=True)
    # shift so that -1 (invalid) stays -1
    if uniq.size and uniq[0] == -1:
        labels_flat = labels_flat - 1
        n = uniq.size - 1
    else:
        n = uniq.size
    return labels_flat.reshape(h, w).astype(np.int64), int(n)


# ---------------------------------------------------------------------------
# boundary tracing: pixel mask → rectilinear rings
# ---------------------------------------------------------------------------

_DIRS = {(1, 0): 0, (0, 1): 1, (-1, 0): 2, (0, -1): 3}
_DX = np.array([1, 0, -1, 0], dtype=np.int64)
_DY = np.array([0, 1, 0, -1], dtype=np.int64)


def _trace_rings(mask: np.ndarray) -> list[np.ndarray]:
    """Directed-edge walk (interior on the right in y-down space → rings
    are clockwise in y-down = CCW in map space after the gt flip).
    Saddle vertices take the sharpest clockwise turn → simple rings.

    Vectorized (round 5c, shared machinery with _dissolve_pixel_rings):
    boundary-edge extraction and successor resolution are numpy; only
    the ring walk is a pointer chase over Python lists. The previous
    dict-of-lists walk re-scanned deleted slots on every ring start
    (`next(iter(edges))` after deletions is O(tombstones)) — quadratic
    on saddle-dense tiles, 3.8 s → sub-second on a 512² p=0.6
    percolation tile. The CW turn rule now also applies when a ring
    STARTS at a saddle (the dict walk took whichever out-edge was
    appended last there); the edge multiset is identical, only the
    pairing of saddle transits into rings can differ — pinned against
    the dict-walk reference in tests."""
    h, w = mask.shape
    padded = np.zeros((h + 2, w + 2), dtype=bool)
    padded[1:-1, 1:-1] = mask
    core = padded[1:-1, 1:-1]
    sxl, syl, dl = [], [], []
    for dd, m, fx, fy in (
        (0, core & ~padded[:-2, 1:-1], 0, 0),   # top: (x,y)→(x+1,y)
        (1, core & ~padded[1:-1, 2:], 1, 0),    # right: down the right side
        (2, core & ~padded[2:, 1:-1], 1, 1),    # bottom: right-to-left
        (3, core & ~padded[1:-1, :-2], 0, 1),   # left: up the left side
    ):
        ys, xs = np.nonzero(m)
        sxl.append(xs.astype(np.int64) + fx)
        syl.append(ys.astype(np.int64) + fy)
        dl.append(np.full(xs.size, dd, dtype=np.int64))
    sx = np.concatenate(sxl)
    sy = np.concatenate(syl)
    d = np.concatenate(dl)
    if d.size == 0:
        return []
    ex = sx + _DX[d]
    ey = sy + _DY[d]
    succ = _edge_successors(sx, sy, ex, ey, d)
    if succ is None:  # unreachable: a mask boundary graph is 2-regular
        raise AssertionError("trace_rings: open boundary graph")
    rings, _ = _walk_rings(succ, sx, sy, ex, ey)
    return rings


def _merge_collinear(ring: np.ndarray) -> np.ndarray:
    """Drop interior vertices on straight runs (exact test — rectilinear
    rings have integer-grid vertices), matching GDAL's minimal rings.
    Vectorized (round 5c): the per-vertex loop was O(unit-perimeter)
    Python on dissolved mega-components."""
    pts = ring[:-1]
    a = np.roll(pts, 1, axis=0)
    c = np.roll(pts, -1, axis=0)
    cross = ((pts[:, 0] - a[:, 0]) * (c[:, 1] - a[:, 1])
             - (pts[:, 1] - a[:, 1]) * (c[:, 0] - a[:, 0]))
    keep = cross != 0
    out = pts[keep] if keep.any() else pts
    return np.vstack([out, out[:1]])


def mask_to_geom(mask: np.ndarray, gt=None, x_off: int = 0,
                 y_off: int = 0) -> G.Geom:
    """Pixel mask → Polygon/MultiPolygon in geo coords (or pixel coords
    when gt is None, y-down). x_off/y_off shift the (bbox-local) mask
    back to full-image pixel coordinates before the gt transform."""
    if mask.shape == (1, 1) and mask[0, 0]:
        # 1-px fast path (they dominate high-component tiles: 34k of a
        # 256^2 random-categorical tile's components) — same ring the
        # generic walk produces, byte-equal output
        rings = [np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0],
                           [0.0, 1.0], [0.0, 0.0]])]
    else:
        rings = [_merge_collinear(r) for r in _trace_rings(mask)]
    if x_off or y_off:
        for r in rings:
            r[:, 0] += x_off
            r[:, 1] += y_off
    if gt is not None:
        for r in rings:
            x = gt[0] + r[:, 0] * gt[1] + r[:, 1] * gt[2]
            y = gt[3] + r[:, 0] * gt[4] + r[:, 1] * gt[5]
            r[:, 0], r[:, 1] = x, y
    shells, holes = [], []
    for r in rings:
        x, y = r[:-1, 0], r[:-1, 1]
        signed = np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y)
        # in y-down pixel space shells are CW (negative signed area);
        # after a north-up gt flip (dy<0) they become CCW — classify by
        # majority: the outermost ring is a shell
        holes.append((abs(signed), r, signed))
    if not holes:
        return G.empty("Polygon")
    # classification: ring is a hole iff strictly inside another ring
    holes.sort(key=lambda t: -t[0])
    out_shells: list[list[np.ndarray]] = []
    for _, r, _ in holes:
        placed = False
        mid = r[:-1].mean(axis=0)
        for poly in out_shells:
            if G.points_in_ring([mid[0]], [mid[1]], poly[0])[0]:
                poly.append(r)
                placed = True
                break
        if not placed:
            out_shells.append([r])
    if len(out_shells) == 1:
        return G.Geom("Polygon", out_shells[0])
    return G.Geom("MultiPolygon", out_shells)


def polygonize_array(arr: np.ndarray, *, eight: bool = False,
                     valid: np.ndarray | None = None, gt=None):
    """→ list of (value, n_pixels, Geom) per connected component.

    Pixels are bucketed per component ONCE (argsort) and each component
    traces a bbox-local mask — O(area + Σ bbox) instead of the round-1
    O(n_components × area) full-mask sweep (10x+ on megapixel blobs)."""
    labels, n = label_components(arr, eight=eight, valid=valid)
    if n == 0:
        return []
    h, w = arr.shape
    flat = labels.ravel()
    order = np.argsort(flat, kind="stable")
    sorted_lab = flat[order]
    comp_ids = np.arange(n, dtype=flat.dtype)
    starts = np.searchsorted(sorted_lab, comp_ids, side="left")
    ends = np.searchsorted(sorted_lab, comp_ids, side="right")
    ys_all, xs_all = np.divmod(order, w)
    out = []
    for comp in range(n):
        sl = slice(int(starts[comp]), int(ends[comp]))
        ys, xs = ys_all[sl], xs_all[sl]
        y0, y1 = int(ys.min()), int(ys.max())
        x0, x1 = int(xs.min()), int(xs.max())
        m = np.zeros((y1 - y0 + 1, x1 - x0 + 1), dtype=bool)
        m[ys - y0, xs - x0] = True
        val = arr[int(ys[0]), int(xs[0])]
        out.append((val, int(len(ys)), mask_to_geom(m, gt, x_off=x0, y_off=y0)))
    return out


# ---------------------------------------------------------------------------
# sieve
# ---------------------------------------------------------------------------

def sieve_array(arr: np.ndarray, threshold: int, *, eight: bool = False,
                valid: np.ndarray | None = None) -> np.ndarray:
    """Replace components < threshold px with their largest neighbor's
    value; masked-out pixels untouched (godal.go:394-413)."""
    out = arr.copy()
    labels, n = label_components(arr, eight=eight, valid=valid)
    if n == 0:
        return out
    sizes = np.bincount(labels[labels >= 0].ravel(), minlength=n)
    small = np.nonzero(sizes < threshold)[0]
    if small.size == 0:
        return out
    # adjacency via 4-neighborhood label pairs (GDAL merges into the
    # largest 4-adjacent neighbor) — unique pairs vectorized (the
    # per-boundary-pixel Python zip loop was O(boundary px), round 4)
    pair_list = []
    for sl_a, sl_b in ((np.s_[:, 1:], np.s_[:, :-1]), (np.s_[1:, :], np.s_[:-1, :])):
        la, lb = labels[sl_a].ravel(), labels[sl_b].ravel()
        m = (la != lb) & (la >= 0) & (lb >= 0)
        if m.any():
            pair_list.append(np.stack([np.minimum(la[m], lb[m]),
                                       np.maximum(la[m], lb[m])], axis=1))
    adj: dict[int, set[int]] = {int(s): set() for s in small}
    if pair_list:
        for a, b in np.unique(np.concatenate(pair_list), axis=0).tolist():
            if a in adj:
                adj[a].add(b)
            if b in adj:
                adj[b].add(a)
    # representative ORIGINAL value per component (first scan occurrence)
    fl = labels.ravel()
    iok = np.flatnonzero(fl >= 0)
    first = np.full(n, fl.size, dtype=np.int64)
    np.minimum.at(first, fl[iok], iok)
    comp_val = arr.ravel()[first]
    # decision per small component (independent: sizes fixed, values
    # original), then ONE O(area) gather applies every merge — the
    # previous per-component `out[labels == s]` was O(n_small * area)
    new_val = comp_val.copy()
    touched = np.zeros(n, dtype=bool)
    for s in small.tolist():
        nbrs = adj.get(int(s), set())
        if not nbrs:
            continue
        tgt = max(nbrs, key=lambda nb: (sizes[nb], -nb))
        new_val[s] = comp_val[tgt]
        touched[s] = True
    if touched.any():
        sel = (fl >= 0) & touched[np.maximum(fl, 0)]
        of = out.ravel()
        of[sel] = new_val[fl[sel]].astype(out.dtype)
    return out


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

FEATURES_SCHEMA = ("image_id string, band int, value double, n_pixels bigint, "
                   "geometry binary, area double")


def polygonize(tiles: DataFrame, *, eight: bool = False,
               use_nodata_mask: bool = True, nodata: float | None = None,
               images: DataFrame | None = None,
               mask_band: int | None = None) -> DataFrame:
    """tiles (level 0) → feature rows, one per connected component.

    Gathers each (image_id, band)'s tiles into one task; see module
    docstring for why this is the scale-correct plan. Pass the images
    DataFrame to emit geometries in GEO coordinates (its `gt` joins in
    broadcast-style); otherwise geometries are in pixel space (y-down).

    mask_band: the reference's `Mask(band)` option (godal.go:348-369) —
    pixels where that band is ZERO are excluded (GDAL mask semantics);
    overrides the nodata mask. The mask tiles ride along in the same
    gather (one extra band per group), no extra shuffle.
    """
    from pyspark.sql import functions as F

    if images is not None and "gt" in images.columns:
        tiles = tiles.join(images.select("image_id", "gt"), "image_id", "left")
    else:
        tiles = tiles.withColumn("gt", F.lit(None).cast("array<double>"))
    if mask_band is not None:
        # regroup by image only: data bands + the mask band gather together
        tiles = tiles.withColumn(
            "__grp_band", F.when(F.col("band") == mask_band, F.lit(-1))
            .otherwise(F.col("band")))

    def _assemble_plane(pdf: pd.DataFrame) -> np.ndarray:
        w, h = int(pdf["w"].iloc[0]), int(pdf["h"].iloc[0])
        dt = np.dtype(pdf["dtype"].iloc[0])
        full = np.zeros((h, w), dtype=dt)
        for r in pdf.itertuples(index=False):
            full[r.y0:r.y0 + r.bh, r.x0:r.x0 + r.bw] = \
                np.frombuffer(r.payload, dtype=dt).reshape(r.bh, r.bw)
        return full

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        image_id, band = key[0], int(key[1])
        mask_valid = None
        if mask_band is not None:
            mrows = pdf[pdf["band"] == mask_band]
            pdf = pdf[pdf["band"] != mask_band]
            if len(pdf) == 0:
                return pd.DataFrame(columns=[
                    "image_id", "band", "value", "n_pixels", "geometry", "area"])
            band = int(pdf["band"].iloc[0])
            if len(mrows):
                mask_valid = _assemble_plane(mrows) != 0
        full = _assemble_plane(pdf)
        valid = mask_valid
        if valid is None and use_nodata_mask and nodata is not None:
            valid = full != nodata
        gt0 = pdf["gt"].iloc[0]
        gt = list(gt0) if gt0 is not None else None
        feats = polygonize_array(full, eight=eight, valid=valid, gt=gt)
        return pd.DataFrame({
            "image_id": [image_id] * len(feats),
            "band": [band] * len(feats),
            "value": [float(v) for v, _, _ in feats],
            "n_pixels": [n for _, n, _ in feats],
            "geometry": [G.to_wkb(g) for _, _, g in feats],
            "area": [g.area() for _, _, g in feats],
        })

    if mask_band is not None:
        # mask rows replicate into every data-band group of the image
        data = tiles.filter(F.col("band") != mask_band)
        mask = tiles.filter(F.col("band") == mask_band).drop("__grp_band")
        bands = data.select("image_id", F.col("band").alias("__grp_band")).distinct()
        mask = mask.join(bands, "image_id")
        both = data.unionByName(mask.select(*data.columns))
        return both.groupBy("image_id", "__grp_band") \
                   .applyInPandas(run, schema=FEATURES_SCHEMA)
    return tiles.groupBy("image_id", "band").applyInPandas(run, schema=FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# cross-tile distributed polygonize (round 2; closes the "single raster
# larger than one task" gap — reference handles any GDAL raster size)
# ---------------------------------------------------------------------------

_P1_SCHEMA = ("kind string, image_id string, band int, cid long, value double, "
              "n_pixels long, wkb binary, area double, "
              "key string, side string, vals array<double>, cids array<long>")

_FEATURES2_SCHEMA = ("image_id string, band int, value double, n_pixels bigint, "
                     "n_parts int, geometry binary, area double")


def _cid_base(bx: int, by: int) -> int:
    """Globally-unique component id prefix: 21 bits each for block x/y
    (tile grids to 2M x 2M blocks), 21 bits of per-tile local labels."""
    return (bx << 42) | (by << 21)



def _dissolve_pixel_rings_slow(polys: list) -> "G.Geom":
    """Reference path for the degenerate cases the vectorized dissolve
    rejects (duplicate directed unit edges from overlapping rings):
    decompose every ring segment into unit directed edges and hand them
    to the general fuzzy stitcher."""
    edges = []
    for rings in polys:
        for r in rings:
            ri = np.asarray(r)
            for i in range(len(ri) - 1):
                x0, y0 = int(round(ri[i, 0])), int(round(ri[i, 1]))
                x1, y1 = int(round(ri[i + 1, 0])), int(round(ri[i + 1, 1]))
                dx = (x1 > x0) - (x1 < x0)
                dy = (y1 > y0) - (y1 < y0)
                n = max(abs(x1 - x0), abs(y1 - y0))
                for k in range(n):
                    edges.append(((float(x0 + k * dx), float(y0 + k * dy)),
                                  (float(x0 + (k + 1) * dx),
                                   float(y0 + (k + 1) * dy))))
    out = G._assemble(G._stitch(edges))
    merged = [[_merge_collinear(np.asarray(r, dtype=np.float64))
               for r in rings2] for rings2 in out.polygons()]
    if not merged:
        return G.empty("Polygon")
    if len(merged) == 1:
        return G.Geom("Polygon", merged[0])
    return G.Geom("MultiPolygon", merged)


# successor-direction preference per incoming direction (0:+x, 1:+y,
# 2:-x, 3:-y on raw coords): leftmost turn first — atan2 order +pi/2
# (left), 0 (straight), -pi/2 (right) — exactly geom._stitch's
# max-over-atan2 rule (reverse edges cannot survive cancellation).
# On a 2-regular boundary graph this coincides with _trace_rings'
# "sharpest clockwise" rule: a choice exists only at saddle vertices,
# where straight is never available and both rules pick (d+1)%4.
_TURN_PREF = np.array([[(d + 1) % 4, d, (d + 3) % 4] for d in range(4)],
                      dtype=np.int64)


def _edge_successors(sx, sy, ex, ey, d):
    """Successor edge per directed unit edge of a rectilinear boundary
    graph: at each edge's end vertex pick the first outgoing edge in
    _TURN_PREF order relative to the incoming direction. Vectorized —
    12 searchsorted probes over per-direction sorted start-vertex keys.
    Returns None when the graph is not a permutation (an end vertex
    with no out-edge, or two edges claiming one successor)."""
    E = int(d.size)
    ox = min(int(sx.min()), int(ex.min()))
    oy = min(int(sy.min()), int(ey.min()))
    shift = (max(int(sy.max()), int(ey.max())) - oy + 2).bit_length()
    svkey = ((sx - ox) << shift) | (sy - oy)
    evkey = ((ex - ox) << shift) | (ey - oy)
    by_dir = {}
    for dd in range(4):
        ids = np.nonzero(d == dd)[0]
        o = np.argsort(svkey[ids])
        by_dir[dd] = (svkey[ids][o], ids[o])
    succ = np.full(E, -1, dtype=np.int64)
    for rank in range(3):
        cand = _TURN_PREF[d, rank]
        for dd in range(4):
            m = (cand == dd) & (succ < 0)
            if not m.any():
                continue
            sk, ids = by_dir[dd]
            if sk.size == 0:
                continue
            q = evkey[m]
            p = np.searchsorted(sk, q)
            ok = (p < sk.size) & (sk[np.minimum(p, sk.size - 1)] == q)
            mi = np.nonzero(m)[0][ok]
            succ[mi] = ids[p[ok]]
    if (succ < 0).any() or np.bincount(succ, minlength=E).max() > 1:
        return None
    return succ


def _walk_rings(succ, sx, sy, ex, ey, merge: bool = False):
    """Decompose the successor permutation into vertex rings — the only
    sequential phase of the trace/dissolve pipelines, a pointer chase
    over Python lists, O(perimeter). Returns (rings, ring_of);
    merge=True runs _merge_collinear on each ring as it closes."""
    E = int(succ.size)
    succ_l = succ.tolist()
    exl, eyl = ex.tolist(), ey.tolist()
    sxl, syl = sx.tolist(), sy.tolist()
    seen = bytearray(E)
    ring_of = np.empty(E, dtype=np.int64)
    rings = []
    for s in range(E):
        if seen[s]:
            continue
        ri = len(rings)
        px = [sxl[s]]
        py = [syl[s]]
        c = s
        while True:
            seen[c] = 1
            ring_of[c] = ri
            px.append(exl[c])
            py.append(eyl[c])
            c = succ_l[c]
            if c == s:
                break
        r = np.column_stack([px, py]).astype(np.float64)
        rings.append(_merge_collinear(r) if merge else r)
    return rings, ring_of


def _dissolve_pixel_rings(polys: list) -> "G.Geom":
    """Dissolve per-tile rectilinear rings (integer pixel coords, y-down)
    into one clean geometry. Shared tile-border runs appear as exact
    OPPOSITE unit edges and cancel; surviving edges re-walk into rings
    (leftmost-turn at saddles), collinear runs merge, shells/holes sort
    by shoelace sign (a CW shell in y-down screen space reads CCW under
    the standard shoelace — geom._assemble's convention).

    Round 5c: fully vectorized — unit-edge expansion via repeat/arange,
    cancellation via a composite-key bincount, successor resolution via
    12 searchsorted probes — the per-unit-edge Python loops were
    O(total perimeter) and took 32 s on a 1 Mpx percolating blob
    (kernel-audit class). Only the final ring walk is a pointer chase
    over Python lists (inherently sequential), O(dissolved perimeter).
    Degenerate inputs (duplicate directed edges) fall back to the
    general fuzzy stitcher."""
    segs = []
    for rings in polys:
        for r in rings:
            ri = np.rint(np.asarray(r, dtype=np.float64)).astype(np.int64)
            if len(ri) > 1:
                segs.append(np.hstack([ri[:-1], ri[1:]]))
    if not segs:
        return G.empty("Polygon")
    S = np.concatenate(segs)
    X0, Y0, X1, Y1 = S[:, 0], S[:, 1], S[:, 2], S[:, 3]
    dxs = np.sign(X1 - X0)
    dys = np.sign(Y1 - Y0)
    n = np.maximum(np.abs(X1 - X0), np.abs(Y1 - Y0))
    live = n > 0
    X0, Y0, dxs, dys, n = X0[live], Y0[live], dxs[live], dys[live], n[live]
    if n.size == 0:
        return G.empty("Polygon")

    # unit-edge expansion
    rep = np.repeat(np.arange(n.size), n)
    base = np.concatenate([[0], np.cumsum(n)[:-1]])
    k = np.arange(int(n.sum()), dtype=np.int64) - base[rep]
    edx, edy = dxs[rep], dys[rep]
    ex0 = X0[rep] + k * edx
    ey0 = Y0[rep] + k * edy

    # cancellation: canonical undirected key + sign
    ox = min(int(ex0.min()), int((ex0 + edx).min()))
    oy = min(int(ey0.min()), int((ey0 + edy).min()))
    spany = max(int(ey0.max()), int((ey0 + edy).max())) - oy + 2
    shift = int(spany).bit_length()
    axis = (edy != 0).astype(np.int64)
    pos = (edx > 0) | (edy > 0)
    bx = np.where(pos, ex0, ex0 + edx) - ox
    by = np.where(pos, ey0, ey0 + edy) - oy
    ukey = ((bx << shift) | by) << 1 | axis
    uniqk, inv = np.unique(ukey, return_inverse=True)
    plus = np.bincount(inv, weights=pos.astype(np.float64))
    excess = (2 * plus - np.bincount(inv)).astype(np.int64)  # plus - minus
    if np.abs(excess).max(initial=0) > 1:
        return _dissolve_pixel_rings_slow(polys)  # duplicate rings
    keep = excess != 0
    kkey = uniqk[keep]
    ksign = excess[keep] > 0
    kaxis = kkey & 1
    rest = kkey >> 1
    by = (rest & ((1 << shift) - 1)) + oy
    bx = (rest >> shift) + ox
    dxa = np.where(kaxis == 0, 1, 0)
    dya = np.where(kaxis == 0, 0, 1)
    sx = np.where(ksign, bx, bx + dxa)
    sy = np.where(ksign, by, by + dya)
    ex = np.where(ksign, bx + dxa, bx)
    ey = np.where(ksign, by + dya, by)
    d = np.where(kaxis == 0, np.where(ksign, 0, 2), np.where(ksign, 1, 3))
    E = int(d.size)
    if E == 0:
        return G.empty("Polygon")

    succ = _edge_successors(sx, sy, ex, ey, d)
    if succ is None:
        return _dissolve_pixel_rings_slow(polys)  # not 2-regular
    rings_out, ring_of = _walk_rings(succ, sx, sy, ex, ey, merge=True)
    merged = _assemble_rectilinear(rings_out, ring_of, kaxis, bx, by)
    if merged is None:
        merged = G._assemble(rings_out).polygons()
    if not merged:
        return G.empty("Polygon")
    if len(merged) == 1:
        return G.Geom("Polygon", merged[0])
    return G.Geom("MultiPolygon", merged)


def _assemble_rectilinear(rings_out, ring_of, kaxis, bx, by):
    """Hole→shell assignment for the vectorized dissolve — the generic
    G._assemble ray-casts every hole vertex against every bbox-candidate
    shell, O(holes × shell perimeter): 157 s of a 159 s percolation
    dissolve went there (round 5c profile). The dissolve output is a
    rectilinear planar subdivision of distinct unit edges, so each
    hole's parent is found EXACTLY by one leftward ray-shoot from the
    midpoint of its minimal-x vertical edge: the point just left of
    that edge is in the filled region (else the hole would own an edge
    further left in the same unit row), and the nearest surviving
    vertical edge strictly left in that row bounds that filled region —
    it belongs either to the parent shell's own left boundary or to a
    sibling hole of the same shell. A sibling hit that way always has a
    smaller min-x, so resolving holes in ascending min-x order makes
    every chain one lookup. O(E log E) via one lexsort + one
    searchsorted per hole. Returns polygons() shape
    ([[shell, hole...], ...]) or None on structural anomaly (caller
    falls back to the generic assembler)."""
    areas = np.array([G._signed_ring_area(r) for r in rings_out])
    if (areas == 0).any():
        return None
    shell_ids = np.nonzero(areas > 0)[0]
    hole_ids = np.nonzero(areas < 0)[0]
    if shell_ids.size == 0:
        return None
    polys = {int(s): [rings_out[s]] for s in shell_ids}
    if hole_ids.size == 0:
        return list(polys.values())
    vert = np.nonzero(kaxis == 1)[0]
    vx = bx[vert]
    vy = by[vert]
    vr = ring_of[vert]
    # one surviving vertical unit edge per (row, x) after cancellation
    spanx = int(vx.max()) - int(vx.min()) + 2
    xorg = int(vx.min())
    key = (vy - int(vy.min())) * spanx + (vx - xorg)
    order = np.argsort(key)
    skey = key[order]
    sring = vr[order]
    # minimal-(x, y) vertical edge per ring
    lex = np.lexsort((vy, vx, vr))
    head = np.ones(lex.size, dtype=bool)
    head[1:] = vr[lex][1:] != vr[lex][:-1]
    min_edge = dict(zip(vr[lex][head].tolist(), lex[head].tolist()))
    is_shell = np.zeros(len(rings_out), dtype=bool)
    is_shell[shell_ids] = True
    parent = {}
    holes_sorted = sorted(
        (int(h) for h in hole_ids),
        key=lambda h: int(vx[min_edge[h]]) if h in min_edge else -1)
    for h in holes_sorted:
        e = min_edge.get(h)
        if e is None:
            return None  # closed ring with no vertical edge — malformed
        q = int(key[e])
        pos = int(np.searchsorted(skey, q)) - 1
        if pos < 0 or int(skey[pos]) // spanx != q // spanx:
            return None  # top-level hole — not a valid dissolve output
        r = int(sring[pos])
        if is_shell[r]:
            parent[h] = r
        else:
            pr = parent.get(r)
            if pr is None:
                return None
            parent[h] = pr
    for h, s in parent.items():
        polys[s].append(rings_out[h])
    return list(polys.values())


def _resolve_roots_distributed(edges: DataFrame, max_iters: int = 25) -> DataFrame:
    """Connected components over the border-equivalence graph WITHOUT
    collecting it: iterative min-label propagation with pointer doubling
    (root ← root-of-root each round ⇒ O(log diameter) convergence — a
    1000-tile river chain resolves in ~10 rounds, not 1000). Used when
    the edge list exceeds the driver union-find guard."""
    from pyspark.sql import functions as F

    sym = edges.unionByName(edges.select(
        "image_id", "band", F.col("cid_b").alias("cid_a"),
        F.col("cid_a").alias("cid_b")))
    sym = sym.localCheckpoint(eager=True)
    lab = (sym.select("image_id", "band", F.col("cid_a").alias("cid")).distinct()
           .withColumn("root", F.col("cid")))
    for _ in range(max_iters):
        nmin = (sym.join(lab.select("image_id", "band",
                                    F.col("cid").alias("cid_b"),
                                    F.col("root").alias("nroot")),
                         ["image_id", "band", "cid_b"])
                .groupBy("image_id", "band", "cid_a")
                .agg(F.min("nroot").alias("mroot"))
                .withColumnRenamed("cid_a", "cid"))
        new = (lab.join(nmin, ["image_id", "band", "cid"], "left")
               .select("image_id", "band", "cid",
                       F.least("root", F.coalesce("mroot", "root")).alias("root")))
        hop = new.select("image_id", "band", F.col("cid").alias("root"),
                         F.col("root").alias("rr"))
        new = (new.join(hop, ["image_id", "band", "root"], "left")
               .select("image_id", "band", "cid",
                       F.coalesce("rr", "root").alias("root")))
        new = new.localCheckpoint(eager=True)  # truncate iterative lineage
        changed = (new.join(lab.withColumnRenamed("root", "oroot"),
                            ["image_id", "band", "cid"])
                   .filter(F.col("root") != F.col("oroot")).count())
        lab = new
        if changed == 0:
            break
    return lab


def _label_tile(r, eight: bool, nodata: float | None):
    """Decode one tile row and label its components: (arr, labels, n,
    base), where base is the tile's global cid prefix (_cid_base) and
    pixels equal to `nodata` (unless None) are excluded (label -1)."""
    arr = np.frombuffer(r.payload, dtype=np.dtype(r.dtype)).reshape(r.bh, r.bw)
    valid = None if nodata is None else arr != nodata
    labels, n = label_components(arr, eight=eight, valid=valid)
    if n >= (1 << 21):
        raise ValueError(
            f"tile ({r.block_x},{r.block_y}) of {r.image_id} band {r.band} "
            f"has {n} local components — exceeds the 21-bit cid budget; "
            "use tiles smaller than 2048x1024 px")
    return arr, labels, n, _cid_base(int(r.block_x), int(r.block_y))


def _border_strips(r, arr, labels, base: int, eight: bool):
    """Yield the tile's border strips as (key, side, vals, cids) — one
    per edge shared with a neighbour tile, keyed by the border line
    ("v:x:y" / "h:x:y"; side "a" is the tile left of / above it), plus
    under 8-connectivity the one-pixel tile-corner strips between
    diagonal tiles ("cd:" down-right, "ca:" up-right diagonal). cids are
    global (base | label), -1 for excluded pixels. Slices stay 2-D so a
    zero-size tile gives empty strips instead of an IndexError."""
    x0, y0, bw, bh = int(r.x0), int(r.y0), int(r.bw), int(r.bh)
    right, left = x0 + bw < int(r.w), x0 > 0
    below, above = y0 + bh < int(r.h), y0 > 0
    strips = []
    if right:
        strips.append((f"v:{x0 + bw}:{y0}", "a", np.s_[:, -1:]))
    if left:
        strips.append((f"v:{x0}:{y0}", "b", np.s_[:, :1]))
    if below:
        strips.append((f"h:{x0}:{y0 + bh}", "a", np.s_[-1:, :]))
    if above:
        strips.append((f"h:{x0}:{y0}", "b", np.s_[:1, :]))
    if eight:
        if right and below:
            strips.append((f"cd:{x0 + bw}:{y0 + bh}", "a", np.s_[-1:, -1:]))
        if left and above:
            strips.append((f"cd:{x0}:{y0}", "b", np.s_[:1, :1]))
        if left and below:
            strips.append((f"ca:{x0}:{y0 + bh}", "a", np.s_[-1:, :1]))
        if right and above:
            strips.append((f"ca:{x0 + bw}:{y0}", "b", np.s_[:1, -1:]))
    for key, side, sl in strips:
        labs = labels[sl].ravel()
        yield (key, side, arr[sl].ravel().astype(np.float64).tolist(),
               np.where(labs >= 0, labs | base, -1).tolist())


def _border_pairs(strips: DataFrame, eight: bool) -> DataFrame:
    """Pair the two sides of every border line (strips from
    _border_strips) into (image_id, band, cid_a, cid_b, eq) rows: eq =
    equal values, an EQUIVALENCE (one component across the seam); else a
    straight-neighbour ADJACENCY. Diagonal (8-connectivity) and corner
    neighbours only ever yield equivalences. Pairs are distinct per
    border line.

    Pure elementwise array comparison, so it runs as ONE JVM aggregation
    + higher-order expressions (guide §4.1: built-ins over Python; a
    Python pairing cost an Arrow stage of near-empty worker round-trips
    on small inputs and a Python crossing of every strip at scale).
    Each interior border line has exactly one 'a' and one 'b' strip, so
    a groupBy(key) with conditional max pulls both sides into one row
    with a single exchange (no self-join, no sort); the two lists are
    then zip-compared via element_at, and array_distinct dedups without
    a shuffle."""
    from pyspark.sql import functions as F

    jo = (strips.groupBy("image_id", "band", "key")
          .agg(F.max(F.when(F.col("side") == "a",
                            F.struct(F.col("vals"), F.col("cids"))))
               .alias("__sa"),
               F.max(F.when(F.col("side") == "b",
                            F.struct(F.col("vals"), F.col("cids"))))
               .alias("__sb"))
          .filter(F.col("__sa").isNotNull() & F.col("__sb").isNotNull())
          .select("image_id", "band", "key",
                  F.col("__sa.vals").alias("va"),
                  F.col("__sa.cids").alias("ca"),
                  F.col("__sb.vals").alias("vb"),
                  F.col("__sb.cids").alias("cb")))
    nlen = F.least(F.size("va"), F.size("vb"))
    corner = (F.col("key").startswith("cd:")
              | F.col("key").startswith("ca:"))

    def pairs_for(off: int):
        # 1-based index range [1+max(0,-off), n-max(0,off)], empty unless
        # n > |off| — guarded, since sequence() runs BACKWARDS on an
        # empty range (sequence(1, 0) = [1, 0]) and element_at then
        # indexes past a short strip.
        # Equality must be NaN-exclusive: Spark's `=` treats
        # NaN = NaN as TRUE, but label_components' intra-tile test
        # treats NaN pixels as never-equal singletons — a NaN-NaN border
        # pair is an ADJACENCY, not an equivalence.
        seq = F.sequence(F.lit(1 + max(0, -off)), nlen - F.lit(max(0, off)))

        def mk(i):
            x = F.element_at("va", i)
            y = F.element_at("vb", i + off)
            return F.struct(
                F.element_at("ca", i).alias("cid_a"),
                F.element_at("cb", i + off).alias("cid_b"),
                ((x == y) & ~(F.isnan(x) & F.isnan(y))).alias("eq"),
                F.lit(off == 0).alias("c0"))

        return F.when(nlen > abs(off), F.transform(seq, mk)).otherwise(
            F.array().cast("array<struct<cid_a:bigint,cid_b:bigint,"
                           "eq:boolean,c0:boolean>>"))

    allp = pairs_for(0)
    if eight:
        allp = F.when(corner, allp).otherwise(
            F.concat(allp, pairs_for(1), pairs_for(-1)))
    keep = F.filter(allp, lambda x: (x["cid_a"] >= 0) & (x["cid_b"] >= 0)
                    & (x["eq"] | (x["c0"] & ~corner)))
    dedup = F.array_distinct(F.transform(keep, lambda x: F.struct(
        x["cid_a"].alias("cid_a"), x["cid_b"].alias("cid_b"),
        x["eq"].alias("eq"))))
    return (jo.select("image_id", "band", F.explode(dedup).alias("p"))
            .select("image_id", "band", F.col("p.cid_a").alias("cid_a"),
                    F.col("p.cid_b").alias("cid_b"), F.col("p.eq").alias("eq")))


def _attach_roots(spark, comps: DataFrame, edges: DataFrame,
                  max_border_edges: int) -> DataFrame:
    """comps + a `root` column from the border-equivalence edge graph:
    driver union-find while the edge list fits under max_border_edges
    (one bounded metadata collect), else the fully distributed
    pointer-doubling propagation — no driver collect at any scale."""
    from pyspark.sql import functions as F

    edge_rows = edges.limit(max_border_edges + 1).collect()
    if len(edge_rows) > max_border_edges:
        mdf = _resolve_roots_distributed(edges)
        return (comps.join(mdf, ["image_id", "band", "cid"], "left")
                .withColumn("root", F.coalesce("root", "cid")))
    parent: dict = {}

    def find(k):
        while parent[k] != k:
            parent[k] = parent[parent[k]]
            k = parent[k]
        return k

    for e in edge_rows:
        ka = (e.image_id, e.band, e.cid_a)
        kb = (e.image_id, e.band, e.cid_b)
        for k in (ka, kb):
            if k not in parent:
                parent[k] = k
        ra, rb = find(ka), find(kb)
        if ra != rb:
            parent[max(ra, rb, key=lambda t: t[2])] = min(
                ra, rb, key=lambda t: t[2])
    mapping = [(k[0], k[1], k[2], find(k)[2]) for k in list(parent)]
    if not mapping:
        return comps.withColumn("root", F.col("cid"))
    mdf = spark.createDataFrame(
        mapping, "image_id string, band int, cid long, root long")
    return (comps.join(F.broadcast(mdf), ["image_id", "band", "cid"], "left")
            .withColumn("root", F.coalesce("root", "cid")))


def polygonize_tiles(tiles: DataFrame, *, eight: bool = False,
                     use_nodata_mask: bool = True, nodata: float | None = None,
                     max_geom_parts: int = 256,
                     max_border_edges: int = 500_000) -> DataFrame:
    """Distributed polygonize that NEVER gathers an image into one task:

      1. per-tile labeling (mapInPandas): local connected components,
         per-component partial stats + rectilinear rings in GLOBAL pixel
         coords, plus the tile's border strips (values + component ids);
      2. border equivalences: the equal-valued (cid_a, cid_b) pairs of
         _border_pairs, the JVM pairing sieve_tiles shares (strips meet
         per shared border line; ±1 offsets and tile-corner keys for
         8-connectivity);
      3. the edge graph (bounded by border-component count, ~data/tile_w)
         maps every provisional id to its root: union-find driver-side
         while it fits under max_border_edges, else a fully distributed
         min-label propagation with pointer doubling (O(log diameter)
         rounds) — no driver collect at any scale;
      4. merge: one row per root — n_pixels summed, area summed, and the
         part rings DISSOLVED across tile borders (unit-edge
         decomposition on the integer pixel grid; shared border runs are
         exact opposite edges and cancel) when the component spans
         ≤ max_geom_parts tiles (geometry NULL beyond that: a
         continent-sized component's outline is not a row).

    Runs eagerly (phases 2-3 require an action).
    """
    from pyspark.sql import functions as F

    spark = tiles.sparkSession
    mask_nodata = nodata if use_nodata_mask else None

    def phase1(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr, labels, n, base = _label_tile(r, eight, mask_nodata)
                # per-component stats + bboxes in ONE vectorized pass,
                # then trace each component inside ITS bbox slice only.
                # The previous `labels == ci` over the full tile per
                # component was O(n_components * tile_area) — quadratic
                # on high-component tiles (round-4 finding: 28 s for a
                # 256^2 random-categorical tile, 0.6 s now).
                bh_, bw_ = labels.shape
                fl = labels.ravel()
                ok = fl >= 0
                sizes = np.bincount(fl[ok], minlength=n)
                iok = np.flatnonzero(ok)
                first = np.full(n, fl.size, dtype=np.int64)
                np.minimum.at(first, fl[iok], iok)
                vals = arr.ravel()[first]
                ys_g = iok // bw_
                xs_g = iok % bw_
                ymin = np.full(n, bh_, np.int64)
                xmin = np.full(n, bw_, np.int64)
                ymax = np.full(n, -1, np.int64)
                xmax = np.full(n, -1, np.int64)
                lo = fl[iok]
                np.minimum.at(ymin, lo, ys_g)
                np.minimum.at(xmin, lo, xs_g)
                np.maximum.at(ymax, lo, ys_g)
                np.maximum.at(xmax, lo, xs_g)
                for ci in range(n):
                    y0c, y1c = int(ymin[ci]), int(ymax[ci]) + 1
                    x0c, x1c = int(xmin[ci]), int(xmax[ci]) + 1
                    m = labels[y0c:y1c, x0c:x1c] == ci
                    g = mask_to_geom(m, gt=[float(r.x0), 1.0, 0.0,
                                            float(r.y0), 0.0, 1.0],
                                     x_off=x0c, y_off=y0c)
                    rows.append(("comp", r.image_id, int(r.band), base | ci,
                                 float(vals[ci]), int(sizes[ci]),
                                 G.to_wkb(g), g.area(),
                                 None, None, None, None))
                for strip in _border_strips(r, arr, labels, base, eight):
                    rows.append(("strip", r.image_id, int(r.band), 0, 0.0, 0,
                                 None, 0.0) + strip)
            cols = ["kind", "image_id", "band", "cid", "value", "n_pixels",
                    "wkb", "area", "key", "side", "vals", "cids"]
            yield pd.DataFrame(rows, columns=cols)

    raw = tiles.select("image_id", "band", "block_x", "block_y",
                       "x0", "y0", "bw", "bh", "w", "h", "dtype",
                       "payload").mapInPandas(phase1, schema=_P1_SCHEMA)
    raw = raw.persist()
    try:
        # EAGER materialization: the first consumer is a LIMIT-bounded
        # collect, and Spark short-circuits limits — it computes only
        # enough partitions to fill 500k rows, leaving the cache PARTIAL
        # and every later branch re-running phase1 for the rest (round-4
        # scaling series finding: the feature pass redid most of the
        # Arrow labeling). One count() pays the phase1 cost exactly once.
        raw.count()
        comps = raw.filter(F.col("kind") == "comp") \
                   .select("image_id", "band", "cid", "value",
                           "n_pixels", "wkb", "area")
        strips = raw.filter(F.col("kind") == "strip") \
                    .select("image_id", "band", "key", "side", "vals", "cids")

        # no explicit width here: the pairing is JVM-only and uncached, so
        # AQE coalesces it and _attach_roots' LIMIT collect reads it in
        # one job (8 explicit partitions took 3: 1, 4, then 3 partitions)
        edges = _border_pairs(strips, eight).filter(F.col("eq")).drop("eq")
        comps = _attach_roots(spark, comps, edges, max_border_edges)

        def merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
            image_id, band, _ = key
            n_parts = len(pdf)
            geom = None
            if n_parts <= max_geom_parts:
                polys = []
                for buf in pdf["wkb"]:
                    polys.extend(G.from_wkb(bytes(buf)).polygons())
                if len(polys) == 1:
                    g = G.Geom("Polygon", polys[0])
                else:
                    # true cross-tile dissolve: shared border runs cancel
                    g = _dissolve_pixel_rings(polys)
                geom = G.to_wkb(g)
            return pd.DataFrame({
                "image_id": [image_id], "band": [band],
                "value": [float(pdf["value"].iloc[0])],
                "n_pixels": [int(pdf["n_pixels"].sum())],
                "n_parts": [n_parts], "geometry": [geom],
                "area": [float(pdf["area"].sum())]})

        out = comps.repartition(adaptive_parallelism(comps),
                                "image_id", "band", "root") \
            .groupBy("image_id", "band", "root").applyInPandas(
            merge, schema=_FEATURES2_SCHEMA)
        out = out.localCheckpoint(eager=True)
    finally:
        raw.unpersist()
    return out


# ---------------------------------------------------------------------------
# distributed SieveFilter (reference godal.go:394-413 over tiled rasters)
# ---------------------------------------------------------------------------

_SV_SCHEMA = ("kind string, image_id string, band int, cid long, cid_b long, "
              "value double, n_pixels long, "
              "key string, side string, vals array<double>, cids array<long>")


def sieve_tiles(tiles: DataFrame, threshold: int, *, eight: bool = False,
                use_nodata_mask: bool = True, nodata: float | None = None,
                max_border_edges: int = 500_000,
                max_small_components: int = 5_000_000) -> DataFrame:
    """Distributed SieveFilter: components smaller than `threshold`
    (GLOBAL size, summed across tile borders) take the ORIGINAL value of
    their largest neighboring component — sieve_array semantics lifted
    onto the polygonize_tiles border machinery, without ever gathering a
    raster into one task.

    `max_small_components` is IGNORED since the decision phase went
    fully distributed (round 4: per-root max_by aggregation, no driver
    gather to bound) — a non-default value raises DeprecationWarning so
    callers relying on the old error-first ceiling see the contract
    change.

    Plan shape (the scale path for a 100k x 100k categorical raster):
      1. per-tile labeling (mapInPandas): component partials
         (cid, value, n_pixels), border strips, and intra-tile
         4-neighbor adjacency label pairs;
      2. border strips pair up per shared border line (_border_pairs,
         shared with polygonize_tiles): equal values →
         EQUIVALENCE edges (same component), different values →
         ADJACENCY edges (merge candidates). Roots via _attach_roots
         (driver union-find under the guard, pointer doubling beyond);
      3. global sizes = one groupBy(root) sum; merge decisions are a
         pure per-small-root max_by aggregation (sizes fixed + values
         original for the whole pass makes smallest-first order
         irrelevant) — fully distributed, no driver collect, no
         component-count ceiling. max_small_components is retained for
         API compatibility but no longer consulted;
      4. rewrite: decisions map back to (tile, local label) via the cid
         encoding; a cogrouped applyInPandas relabels each touched tile
         once. Untouched tiles pass through byte-identical.

    Tie-break on equal neighbor sizes: smallest global root id
    (deterministic under any partition order; sieve_array's local-label
    order is scan-dependent and cannot be reproduced distributed).
    """
    from pyspark.sql import functions as F

    if max_small_components != 5_000_000:
        import warnings

        warnings.warn(
            "sieve_tiles: max_small_components is ignored since the "
            "decision phase went fully distributed (no driver gather to "
            "bound); the parameter will be removed",
            DeprecationWarning, stacklevel=2)

    spark = tiles.sparkSession
    tiles = tiles.select("image_id", "band", "level", "block_x", "block_y",
                         "x0", "y0", "bw", "bh", "w", "h", "dtype",
                         "payload", "caption")

    mask_nodata = nodata if use_nodata_mask else None

    def phase1(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr, labels, n, base = _label_tile(r, eight, mask_nodata)
                fl = labels.ravel()
                ok = fl >= 0
                sizes = np.bincount(fl[ok], minlength=n)
                idx = np.flatnonzero(ok)
                # first occurrence per label (scan order) = the
                # component's representative value
                first = np.full(n, len(fl), dtype=np.int64)
                np.minimum.at(first, fl[idx], idx)
                vals = arr.ravel()[first]
                for ci in range(n):
                    rows.append(("comp", r.image_id, int(r.band), base | ci,
                                 -1, float(vals[ci]), int(sizes[ci]),
                                 None, None, None, None))
                # intra-tile 4-neighbor adjacency between components
                for sl_a, sl_b in ((np.s_[:, 1:], np.s_[:, :-1]),
                                   (np.s_[1:, :], np.s_[:-1, :])):
                    la, lb = labels[sl_a].ravel(), labels[sl_b].ravel()
                    m = (la != lb) & (la >= 0) & (lb >= 0)
                    if not m.any():
                        continue
                    pairs = np.unique(
                        np.stack([np.minimum(la[m], lb[m]),
                                  np.maximum(la[m], lb[m])], axis=1), axis=0)
                    for a, b in pairs.tolist():
                        rows.append(("adj", r.image_id, int(r.band),
                                     base | a, base | b, 0.0, 0,
                                     None, None, None, None))
                for strip in _border_strips(r, arr, labels, base, eight):
                    rows.append(("strip", r.image_id, int(r.band), 0, -1,
                                 0.0, 0) + strip)
            cols = ["kind", "image_id", "band", "cid", "cid_b", "value",
                    "n_pixels", "key", "side", "vals", "cids"]
            yield pd.DataFrame(rows, columns=cols)

    raw = tiles.mapInPandas(phase1, schema=_SV_SCHEMA).persist()
    pairs = None
    try:
        comps = raw.filter(F.col("kind") == "comp") \
                   .select("image_id", "band", "cid", "value", "n_pixels")
        strips = raw.filter(F.col("kind") == "strip") \
                    .select("image_id", "band", "key", "side", "vals", "cids")
        adj_local = raw.filter(F.col("kind") == "adj") \
                       .select("image_id", "band",
                               F.col("cid").alias("cid_a"), "cid_b")

        # equivalences AND adjacencies both read the pairs, so they are
        # cached — and a persist() disables AQE re-optimization inside the
        # cached fragment (canChangeCachedPlanOutputPartitioning default):
        # without an explicit keyed repartition sized from the input, the
        # pairing's agg exchange runs at the full shuffle-partition count
        # with no runtime coalescing — 32 reduce tasks for a 6-tile input
        strips = strips.repartition(adaptive_parallelism(strips),
                                    "image_id", "band", "key")
        pairs = _border_pairs(strips, eight).persist()
        # full materialization before _attach_roots' LIMIT-bounded
        # collect (limits short-circuit -> partial caches -> the rewrite
        # job re-ran phase1; round-4 scaling series finding)
        pairs.count()
        edges_eq = pairs.filter(F.col("eq")).drop("eq")
        edges_adj = pairs.filter(~F.col("eq")).drop("eq") \
                         .unionByName(adj_local)

        comps = _attach_roots(spark, comps, edges_eq, max_border_edges)
        cidmap = comps.select("image_id", "band", "cid", "root")
        stats = comps.groupBy("image_id", "band", "root").agg(
            F.sum("n_pixels").alias("size"), F.min("value").alias("value"))

        # adjacency lifted to roots, symmetric, self-loops dropped
        ra = (edges_adj
              .join(cidmap.withColumnRenamed("cid", "cid_a")
                    .withColumnRenamed("root", "ra"),
                    ["image_id", "band", "cid_a"])
              .join(cidmap.withColumnRenamed("cid", "cid_b")
                    .withColumnRenamed("root", "rb"),
                    ["image_id", "band", "cid_b"])
              .select("image_id", "band", "ra", "rb")
              .filter(F.col("ra") != F.col("rb")))
        # no .distinct(): duplicate adjacency rows (one component pair
        # touching several border lines) cannot change the max_by merge
        # decision below, and the distinct cost a full extra exchange +
        # AQE job round-trip
        adj_sym = ra.unionByName(
            ra.select("image_id", "band", F.col("rb").alias("ra"),
                      F.col("ra").alias("rb")))

        small = stats.filter(F.col("size") < threshold)
        # decision inputs: one row per (small root, neighbor) with both
        # endpoints' global size + the neighbor's ORIGINAL value —
        # bounded by the small-component count, never by pixels
        dec_in = (adj_sym
                  .join(small.select("image_id", "band",
                                     F.col("root").alias("ra"),
                                     F.col("size").alias("size_a")),
                        ["image_id", "band", "ra"])
                  .join(stats.select("image_id", "band",
                                     F.col("root").alias("rb"),
                                     F.col("size").alias("size_b"),
                                     F.col("value").alias("value_b")),
                        ["image_id", "band", "rb"]))
        # Merge decisions are INDEPENDENT per small root: sizes are
        # FIXED and values ORIGINAL for the whole pass (a chain A→B→C
        # leaves A with B's old value), so "smallest-first" order never
        # feeds back into later decisions. That makes the solve a pure
        # per-root aggregation — fully distributed, no driver collect,
        # no component-count ceiling (round-3 verdict item): target =
        # the neighbor with max size, ties to the smallest root id.
        ddf = (dec_in.groupBy("image_id", "band", "ra")
               .agg(F.max_by(
                   "value_b",
                   F.struct(F.col("size_b").alias("s"),
                            (-F.col("rb")).alias("nr"))).alias("new_value"))
               .withColumnRenamed("ra", "root"))
        cid_dec = (cidmap.join(ddf, ["image_id", "band", "root"])
                   .withColumn("block_x",
                               F.shiftrightunsigned("cid", 42).cast("int"))
                   .withColumn("block_y",
                               F.shiftrightunsigned("cid", 21).bitwiseAND(
                                   F.lit((1 << 21) - 1).cast("long")).cast("int"))
                   .select("image_id", "band", "block_x", "block_y",
                           "cid", "new_value"))
        # checkpoint the SMALL side: cid_dec is bounded by decision
        # count (metadata rows), and checkpointing it truncates every
        # cache dependency — so the returned rewrite plan reads only the
        # ORIGINAL tiles input + this checkpoint, the caches can be
        # dropped in finally, and the full-size OUTPUT is never
        # materialized twice (an eager result checkpoint stored the
        # whole payload volume before the consumer read it — measured
        # as the non-scaling slice of the round-4 sieve series)
        cid_dec = cid_dec.localCheckpoint(eager=True)
        if cid_dec.isEmpty():  # free: reads the checkpointed rows
            return tiles

        def rewrite(key, tpdf: pd.DataFrame, dpdf: pd.DataFrame) -> pd.DataFrame:
            out = tpdf.copy()
            if len(dpdf) == 0:
                return out
            payloads = []
            for r in tpdf.itertuples(index=False):
                arr, labels, _, _ = _label_tile(r, eight, mask_nodata)
                arr = arr.copy()
                for d in dpdf.itertuples(index=False):
                    local = int(d.cid) & ((1 << 21) - 1)
                    arr[labels == local] = np.asarray(
                        d.new_value).astype(arr.dtype)
                payloads.append(arr.tobytes())
            out["payload"] = payloads
            return out

        keys = ["image_id", "band", "block_x", "block_y"]
        from godal_spark.operators.tiling import TILE_SCHEMA

        result = (tiles.repartition(adaptive_parallelism(tiles), *keys)
                  .groupBy(*keys)
                  .cogroup(cid_dec.repartition(adaptive_parallelism(cid_dec),
                                               *keys).groupBy(*keys))
                  .applyInPandas(rewrite, schema=TILE_SCHEMA))
        return result
    finally:
        # unpersist in finally so the early no-decision return and any
        # raise don't leak cached DataFrames for the session (ADVICE r3)
        raw.unpersist()
        if pairs is not None:
            pairs.unpersist()
